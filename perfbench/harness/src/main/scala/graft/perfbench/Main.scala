package graft.perfbench

/** Runs one workload and prints its figures: one line per named
  * metric (name, value, unit, sample count), then the result object as
  * the last line. Exits 1 when any output was wrong or any op failed. */
object Main {
  val Workloads = Seq("olap_zipf", "ingest_cdc")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload '${a.workload}' (${Workloads.mkString("|")})")
    val o = a.workload match {
      case "ingest_cdc" => Ingest.run(a)
      case "olap_zipf"  => Serve.run(a)
    }
    o.problems.foreach(p => System.err.println(s"perfbench: FAIL $p"))
    o.detail.foreach(m => println(Json.metricLine(m)))
    println(Json.result(o))
    System.out.flush()
    sys.exit(if (o.correct) 0 else 1)
  }
}
