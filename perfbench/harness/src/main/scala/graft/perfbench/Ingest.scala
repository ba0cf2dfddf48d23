package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps
import graft.streaming.{IngestBump, StateStore}

/** `ingest_cdc`: one bumper (the ingest contract) maintaining the text and
  * trained-vector dedup verdicts under seeded CDC feeds.
  *
  * Set-up ingests the documents corpus with `IngestBump.bump`, quantizes
  * and trains the vector quantizer once (as the p73 chain does), seeds the
  * trained family with `bumpTrained`. The timed window then bumps for
  * about `--seconds` (at least [[MinTimed]] bumps):
  * every bump removes, revises and adds a few % of the documents through
  * `bumpTextCdc` and of the vectors through `bumpTrained`, and is timed
  * from its feed to committed state and materialised verdicts. */
object Ingest {

  /** Share of the live corpus each bump removes, revises and adds. */
  val ChurnShare = 0.02
  /** Vectors: share removed and share returned or added per bump. */
  val VecChurn = 0.03
  /** The fewest bumps in a timed (untraced) window. */
  val MinTimed = 2

  private val Vocab = ("key agg row scan slow fast table value part hash batch window spark " +
    "order data column join small line customer the big merge stream filter group vector " +
    "query index dup a sort").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "de", "es", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** One bump's CDC feed over the driver-side corpus image, deterministic
    * in the generator's state. */
  final case class Feed(removed: Seq[Long], changed: Seq[Doc], added: Seq[Doc])

  /** Seeded CDC feed generator: the corpus image it advances is the
    * snapshot every feed is relative to. */
  final class FeedGen(seed: Long, initial: Seq[Doc]) {
    private val r = new Random(seed)
    val corpus: mutable.LinkedHashMap[Long, Doc] = mutable.LinkedHashMap(initial.map(d => d.id -> d): _*)
    private var nextId = (if (initial.isEmpty) 0L else initial.map(_.id).max) + 1
    private var rev = 0

    private def freshText(): String = {
      val target = 44 + r.nextInt(534)
      val sb = new StringBuilder
      while (sb.length < target) { if (sb.nonEmpty) sb += ' '; sb ++= Vocab(r.nextInt(Vocab.size)) }
      sb.result()
    }
    private def mutate(t: String): String = {
      val toks = t.split(" ")
      (0 until math.max(1, toks.length / 20)).foreach(_ => toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.size)))
      toks.mkString(" ")
    }
    private def live(n: Int): Seq[Doc] = {
      val ids = corpus.keysIterator.toIndexedSeq
      r.shuffle(ids).take(n).map(corpus)
    }

    def next(): Feed = {
      rev += 1
      val n = math.max(1, (corpus.size * ChurnShare).toInt)
      val picked = live(2 * n)
      val removed = picked.take(n).map(_.id)
      val others = corpus.valuesIterator.toIndexedSeq
      val changed = picked.drop(n).map { d =>
        val text = r.nextInt(10) match {
          case 0 => others(r.nextInt(others.size)).text // becomes an exact copy
          case 1 | 2 => d.text + s" rev$rev"
          case _ => mutate(d.text)
        }
        d.copy(text = text)
      }.filter(d => d.text != corpus(d.id).text)
      val added = (0 until n).map { _ =>
        val text = r.nextInt(10) match {
          case 0 => others(r.nextInt(others.size)).text
          case 1 | 2 => mutate(others(r.nextInt(others.size)).text)
          case _ => freshText()
        }
        val d = Doc(nextId, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")
        nextId += 1
        d
      }
      removed.foreach(corpus.remove)
      (changed ++ added).foreach(d => corpus(d.id) = d)
      Feed(removed, changed, added)
    }
  }

  /** Seeded vector churn: each bump removes a few % of the live vectors
    * and brings back removed ones or admits new near-duplicates from the
    * pre-quantized universe. */
  final class VecGen(seed: Long, base: Seq[Long], extra: Seq[Long]) {
    private val r = new Random(seed ^ 0x7ec)
    val live: mutable.LinkedHashSet[Long] = mutable.LinkedHashSet(base: _*)
    private val out = mutable.LinkedHashSet[Long]()
    private val fresh = mutable.Queue(extra: _*)

    def next(): Unit = {
      val n = math.max(1, (live.size * VecChurn).toInt)
      val gone = r.shuffle(live.toIndexedSeq).take(n)
      val back = r.shuffle(out.toIndexedSeq).take(n / 2)
      val neu = (0 until n - back.size).flatMap(_ => if (fresh.nonEmpty) Some(fresh.dequeue()) else None)
      gone.foreach { v => live.remove(v); out.add(v) }
      (back ++ neu).foreach { v => out.remove(v); live.add(v) }
    }
  }

  private val DocCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def docsFrame(spark: SparkSession, ds: Iterable[Doc]): DataFrame = {
    import spark.implicits._
    ds.toSeq.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong)).toDF(DocCols: _*)
  }

  private def idsFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** Near-duplicate vectors for later bumps to admit: jittered copies of
    * seeded base vectors, renormalised, ids after the base range. */
  private def extraVectors(base: IndexedSeq[(Long, Array[Float])], seed: Long, n: Int)
      : IndexedSeq[(Long, Array[Float])] = {
    val r = new Random(seed ^ 0xe4b)
    val maxId = base.last._1
    (1 to n).map { i =>
      val v = base(r.nextInt(base.length))._2.map(x => x + (r.nextGaussian() * 0.01).toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (maxId + i, v.map(_ / nrm))
    }
  }

  final case class BumpTimes(textS: Double, vecS: Double, totalS: Double, chainAfter: Int)

  def run(a: Args): Outcome = {
    val spark = Spark.session(a)
    try body(a, spark) finally spark.stop()
  }

  private def body(a: Args, spark: SparkSession): Outcome = {
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - a.startMs) / 1000.0}%.1f s")
    mark("session ready")
    val root = s"${a.workDir}/ingest"
    val docs = spark.read.parquet(s"${a.dataDir}/documents.parquet")
    val initial = docs.collect().map(r =>
      Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source"))).toSeq
    val feeds = new FeedGen(a.seed, initial)
    IngestBump.bump(spark, root, docs.select(DocCols.map(col): _*)).verdict.count()
    mark("documents ingested")

    // the vector universe: base embeddings plus the near-duplicates later
    // bumps admit, quantized once; the quantizer trains once on the base.
    // The raw floats stay on the driver for the verdict oracle.
    val embs = spark.read.parquet(s"${a.dataDir}/embeddings.parquet")
    val base = embs.select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toArray).sortBy(_._1).toIndexedSeq
    val nBase = base.size.toLong
    val extra = extraVectors(base, a.seed, (nBase / 5).toInt)
    val universe = {
      import spark.implicits._
      PipelineOps.quantizedOf(embs.select("vec_id", "embedding")
        .unionByName(extra.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")))
        .select("vec_id", "q", "nrm").localCheckpoint(true)
    }
    val raw = (base ++ extra).toMap
    val baseQ = universe.where(col("vec_id") < nBase)
    val trained = PipelineOps.trainCentroids(baseQ, PipelineOps.semCells(nBase)).localCheckpoint(true)
    val vecs = new VecGen(a.seed, 0L until nBase, nBase until nBase + nBase / 5)
    def vecSnapshot(): DataFrame = universe.where(col("vec_id").isin(vecs.live.toSeq: _*))
    mark("quantizer trained")
    IngestBump.bumpTrained(spark, root, IngestBump.TrainedSnapshot(vecSnapshot(), trained)).count()
    mark("vectors ingested")

    // each snapshot's documents sit in parquet, as an ingest's corpus
    // does; written before the bump's clock starts
    var version = 0
    def corpusSnapshot(): DataFrame = {
      version += 1
      val dir = s"${a.workDir}/corpus/v$version"
      docsFrame(spark, feeds.corpus.values).write.parquet(dir)
      spark.read.parquet(dir)
    }
    def bump(): (BumpTimes, DataFrame, DataFrame) = {
      val f = feeds.next()
      vecs.next()
      val corpus = corpusSnapshot()
      val t0 = System.nanoTime()
      val delta = IngestBump.CorpusDelta(
        removedIds = idsFrame(spark, f.removed),
        changed = docsFrame(spark, f.changed),
        added = docsFrame(spark, f.added))
      val tv = IngestBump.bumpTextCdc(spark, root, delta, corpus)
      tv.count()
      val t1 = System.nanoTime()
      val vv = IngestBump.bumpTrained(spark, root, IngestBump.TrainedSnapshot(vecSnapshot(), trained))
      vv.count()
      val t2 = System.nanoTime()
      val chain = StateStore.chainLength(spark, s"$root/text")
      System.err.println(f"perfbench: bump text ${(t1 - t0) / 1e9}%.2f s, vectors ${(t2 - t1) / 1e9}%.2f s, chain $chain")
      (BumpTimes((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9, chain), tv, vv)
    }

    // no warm CDC bump: a bump's cost grows with the state chain's length,
    // and the first CDC bump after the initial ingest measured no slower
    // than the next, so a warm bump would only shift the window down-chain
    val mem = new Jvm.MemWatch
    val setupS = (System.currentTimeMillis() - a.startMs) / 1000.0
    System.err.println(f"perfbench: set-up $setupS%.1f s")

    // timed: bumps while the next, taking as long as the last, would end
    // within `seconds`, at least MinTimed of them; traced: untraced,
    // traced, traced, untraced bumps, so both kinds sit at the same mean
    // chain position (a bump's cost grows with the chain)
    val gc0 = Jvm.gcMs()
    val (times, layer, verdicts) =
      if (a.trace) traced(a, spark, root, () => bump())
      else {
        val t0 = System.nanoTime()
        val runs = mutable.ArrayBuffer(bump())
        while (runs.size < MinTimed || (System.nanoTime() - t0) / 1e9 + runs.last._1.totalS <= a.seconds)
          runs += bump()
        (runs.map(_._1).toSeq, Nil, (runs.last._2, runs.last._3))
      }
    val gcMs = Jvm.gcMs() - gc0
    val memory = mem.stop()

    // oracles: the from-scratch p36 verdict over the final documents
    // snapshot, and the one-shot p52 verdict over the final vectors,
    // computed on the driver from the raw floats (TrainedOracle)
    val finalDocs = spark.read.parquet(s"${a.workDir}/corpus/v$version")
    val textOk = same(verdicts._1, PipelineOps.dedupVerdictOf(finalDocs))
    val expected = TrainedOracle.verdict(base, vecs.live.toSeq.map(id => id -> raw(id)),
      PipelineOps.SemMaxCell, PipelineOps.SemDupThreshold)
    val got = verdicts._2.select("vec_id", "cid", "dup_of", "kept").collect().map(r =>
      TrainedOracle.Row(r.getLong(0), Option(r.get(1)).map(_ => r.getLong(1)),
        Option(r.get(2)).map(_ => r.getLong(2)), r.getLong(3))).toSeq.sortBy(_.vecId)
    val vecOk = got == expected
    val problems = (if (textOk) Nil else Seq("text verdict differs from the from-scratch p36 verdict")) ++
      (if (vecOk) Nil else Seq("trained verdict differs from the driver-side p52 verdict: " +
        got.diff(expected).take(3).mkString(", ")))
    mark("verdicts checked")

    val k = times.size
    def ts(f: BumpTimes => Double): Seq[Double] = times.map(f)
    val chainS = ts(_.totalS).sum
    val p50 = Stats.median(ts(_.totalS)) * 1000
    val metrics = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_p50_ms", p50, "ms", k),
      Metric("mem_resident_mb", memory.residentMb, "MB", 2))
    val detail = Seq(
      Metric("ingest.chain_s", chainS, "s", k),
      Metric("ingest.bump_p50_s", p50 / 1000, "s", k),
      Metric("ingest.bump_max_s", ts(_.totalS).max, "s", k),
      Metric("ingest.text_bump_s_p50", Stats.median(ts(_.textS)), "s", k),
      Metric("ingest.vec_bump_s_p50", Stats.median(ts(_.vecS)), "s", k),
      Metric("error_ratio", problems.size.toDouble / k, "ratio", k),
      Metric("jvm.gc_ms_per_op", gcMs.toDouble / k, "ms", k),
      Metric("mem.live_peak_mb", memory.peakMb, "MB", memory.collections))
    if (a.trace) Outcome(k, problems.size, problems, Layers.complete(layer), metrics ++ detail ++ layer)
    else Outcome(k, problems.size, problems, metrics, detail)
  }

  /** Files under a directory with their sizes. */
  private def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** The traced run's window: untraced, traced, traced, untraced bumps.
    * A traced bump runs with the attribution listener attached, the state
    * root listed before and after it, and the block manager's pinned bytes
    * read after it. Returns the untraced bumps' times, the per-layer
    * metrics, and the last bump's verdicts. */
  private def traced(a: Args, spark: SparkSession, root: String,
      bump: () => (BumpTimes, DataFrame, DataFrame))
      : (Seq[BumpTimes], Seq[Metric], (DataFrame, DataFrame)) = {
    val tracer = new Tracer()
    val sc = spark.sparkContext
    val jobs = new AttributionListener
    val stateRoot = Paths.get(root)
    var filesWritten, bytesWritten, pinnedPeak, gcMs = 0L
    var last: (DataFrame, DataFrame) = null
    val runs = Seq(false, true, true, false).zipWithIndex.map { case (on, i) =>
      if (on) sc.addSparkListener(jobs)
      val before = if (on) listing(stateRoot) else Map.empty[String, Long]
      val gc0 = Jvm.gcMs()
      val s = System.nanoTime()
      val (t, tv, vv) = bump()
      last = (tv, vv)
      if (on) {
        gcMs += Jvm.gcMs() - gc0
        tracer.record("bump", s"bump-$i", "", s, System.nanoTime())
        tracer.record("text", s"bump-$i", "bump", s, s + (t.textS * 1e9).toLong)
        tracer.record("vectors", s"bump-$i", "bump", s + (t.textS * 1e9).toLong, s + (t.totalS * 1e9).toLong)
        val fresh = listing(stateRoot).filter { case (f, n) => !before.get(f).contains(n) }
        filesWritten += fresh.size
        bytesWritten += fresh.values.sum
        pinnedPeak = math.max(pinnedPeak, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(jobs)
      }
      (on, t)
    }
    tracer.write(Paths.get(a.traceDir, s"${a.workload}-s${a.seed}.spans.jsonl"))
    val (tallies, _) = jobs.take()
    val times = runs.collect { case (true, t) => t }
    val untraced = runs.collect { case (false, t) => t }
    val k = times.size.toDouble
    val modules = Seq("bump", "cc", "state", "dedup", "semdedup", "pipeline")
    val other = new Attribution.Tally
    tallies.filter { case (m, _) => !modules.contains(m) }.values.foreach(other.add)
    val byModule = modules.map(m => m -> tallies.getOrElse(m, new Attribution.Tally)) :+ ("other" -> other)
    val all = new Attribution.Tally
    tallies.values.foreach(all.add)
    val mean = (xs: Seq[BumpTimes]) => xs.map(_.totalS).sum / xs.size
    val layer = Seq(
      Metric("ingest.text_bump_s_p50", Stats.median(untraced.map(_.textS)), "s", untraced.size),
      Metric("ingest.vec_bump_s_p50", Stats.median(untraced.map(_.vecS)), "s", untraced.size)) ++
      byModule.flatMap { case (m, t) => Seq(
        Metric(s"ingest.$m.jobs_per_bump", t.jobs / k, "count", times.size),
        Metric(s"ingest.$m.job_wall_s_per_bump", t.jobWallMs / 1000.0 / k, "s", times.size),
        Metric(s"ingest.$m.task_s_per_bump", t.taskMs / 1000.0 / k, "s", times.size)) } ++ Seq(
      Metric("ingest.shuffle_bytes_per_bump", all.shuffleBytes / k, "bytes", times.size),
      Metric("ingest.spill_bytes_per_bump", all.spillBytes / k, "bytes", times.size),
      Metric("ingest.driver_result_bytes_per_bump", all.resultBytes / k, "bytes", times.size),
      Metric("ingest.pinned_bytes_peak", pinnedPeak.toDouble, "bytes", times.size),
      Metric("state.bytes_written_per_bump", bytesWritten / k, "bytes", times.size),
      Metric("state.files_per_bump", filesWritten / k, "count", times.size),
      Metric("jvm.gc_ms_per_op", gcMs / k, "ms", times.size),
      Metric("trace.overhead_p50",
        Stats.median(times.map(_.totalS)) / Stats.median(untraced.map(_.totalS)) - 1, "ratio", runs.size),
      Metric("trace.overhead_rps", mean(times) / mean(untraced) - 1, "ratio", runs.size))
    (untraced, layer, last)
  }

  /** Row-set equality of two verdict frames (same columns). */
  private def same(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted.toSeq
    def rows(df: DataFrame): Seq[String] = df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    cols == b.columns.sorted.toSeq && rows(a) == rows(b)
  }
}
