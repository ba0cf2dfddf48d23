package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: its generators are deterministic per seed,
  * its workloads have the properties they are chosen for, its percentile
  * rule holds, and job attribution maps call sites to the right module.
  * No Spark session: everything here is driver-side logic. */
class HarnessSpec extends AnyFunSuite {

  test("request streams are deterministic per seed and differ across seeds") {
    val a = RequestGen.distinct(7, 300).map(_.uri)
    assert(a == RequestGen.distinct(7, 300).map(_.uri))
    assert(a != RequestGen.distinct(8, 300).map(_.uri))
    assert(RequestGen.zipfStream(7, 5000, 1024, 1.2) == RequestGen.zipfStream(7, 5000, 1024, 1.2))
    assert(RequestGen.zipfStream(7, 5000, 1024, 1.2) != RequestGen.zipfStream(8, 5000, 1024, 1.2))
  }

  test("the request pool repeats no request") {
    val uris = RequestGen.distinct(Serve.PoolSeed, Serve.ZipfPool).map(_.uri)
    assert(uris.distinct.size == uris.size)
  }

  test("the olap_zipf pool outgrows the 256-entry response cache, and its stream reaches past it") {
    assert(Serve.ZipfPool > 256)
    val Serve.Streams(prefill, stream) = Serve.streams(11)
    val seen = (0 until 5000).map(i => stream(i).uri).toSet
    assert(seen.size > 256)
    assert(prefill.map(_.uri).distinct.size == Serve.Prefill)
  }

  test("the zipf stream holds its frequencies exactly, not by sampling") {
    val n = 32 * 50
    val ranks = RequestGen.zipfStream(3, n, 1024, 1.2)
    val w = (0 until 1024).map(k => 1.0 / math.pow(k + 1.0, 1.2))
    val counts = ranks.groupBy(identity).view.mapValues(_.size).toMap
    (0 until 1024).foreach { k =>
      val share = w(k) / w.sum
      // whole blocks hold a rank's count to within one; the stream's end
      // may cut one block short by up to that block's share of the rank
      assert(math.abs(counts.getOrElse(k, 0) - share * n) <= 2.0 + share * 32, s"rank $k")
    }
  }

  test("the family mix is the curated query set's, and every period holds it exactly") {
    val olap = graft.SparkEntry.queries.keySet.filter(_.matches("q\\d\\d_.*"))
    assert(RequestGen.curated.keySet == olap - "q28_diagnosis")
    val shares = RequestGen.families.toMap
    assert(shares.values.sum == RequestGen.familyOrder.size)
    val period = RequestGen.familyOrder.size
    RequestGen.distinct(5, 3 * period).grouped(period).foreach { blk =>
      assert(blk.groupBy(_.family).view.mapValues(_.size).toMap == shares)
    }
  }

  test("the driver-side p52 oracle marks a near copy as a duplicate of the lower id") {
    val r = new scala.util.Random(3)
    val vs = (0L until 16L).map(i => i -> Array.fill(8)(r.nextGaussian().toFloat))
    val copy = 16L -> vs(5)._2.map(_ + 1e-4f)
    val rows = TrainedOracle.verdict(vs, vs :+ copy, 1024, 0.99)
    assert(rows.map(_.vecId) == (0L to 16L))
    assert(rows.last.dupOf.contains(5L) && rows.last.kept == 0L)
    assert(rows.init.forall(_.kept == 1L))
    assert(rows.forall(_.cid.isDefined))
    // a cap of one membership pairs nothing
    assert(TrainedOracle.verdict(vs, vs :+ copy, 1, 0.99).forall(_.kept == 1L))
  }

  test("CDC feeds and vector churn are deterministic per seed, and feeds are disjoint by id") {
    val docs = (0L until 500L).map(i => Ingest.Doc(i, s"text number $i spark", "en", s"src${i % 20}"))
    def feeds(seed: Long) = { val g = new Ingest.FeedGen(seed, docs); Seq.fill(4)(g.next()) }
    assert(feeds(1) == feeds(1))
    assert(feeds(1) != feeds(2))
    feeds(1).foreach { f =>
      val ids = f.removed ++ f.changed.map(_.id) ++ f.added.map(_.id)
      assert(ids.distinct.size == ids.size)
    }
    def vecs(seed: Long) = { val g = new Ingest.VecGen(seed, 0L until 200L, 200L until 240L); (1 to 3).map { _ => g.next(); g.live.toList } }
    assert(vecs(1) == vecs(1))
    assert(vecs(1) != vecs(2))
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.minSamples(0.95) == 200)
    assert(Stats.minSamples(0.90) == 100)
    val xs = (1 to 199).map(_.toDouble)
    assert(Stats.percentile(xs, 0.95).isEmpty)
    assert(Stats.percentile(xs :+ 200.0, 0.95).contains(190.0))
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.90).contains(90.0))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.90).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("attribution charges a job to the first program frame of its call site") {
    val pinned =
      """org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:811)
        |graft.pipeline.PipelineOps$PinnedFrame$.pinned$extension(PipelineOps.scala:81)
        |graft.streaming.IngestBump$.bumpTextCdc(IngestBump.scala:350)
        |graft.perfbench.Ingest$.bump$1(Ingest.scala:190)""".stripMargin
    assert(Attribution.moduleOf(pinned).contains("bump"))
    val cc =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3560)
        |graft.streaming.IncrementalCc$.$anonfun$refresh$4(IncrementalCc.scala:402)
        |graft.streaming.IngestBump$.advanceText(IngestBump.scala:590)""".stripMargin
    assert(Attribution.moduleOf(cc).contains("cc"))
    assert(Attribution.moduleOf("\tat graft.streaming.StateStore$.$anonfun$commit$2(StateStore.scala:240)")
      .contains("state"))
    assert(Attribution.moduleOf("graft.streaming.SemDedupStream$.retireTrained(SemDedupStream.scala:300)")
      .contains("semdedup"))
    assert(Attribution.moduleOf("graft.streaming.DedupStream$.retain(DedupStream.scala:100)").contains("dedup"))
    assert(Attribution.moduleOf("graft.pipeline.PipelineOps$.trainCentroids(PipelineOps.scala:3400)")
      .contains("pipeline"))
    assert(Attribution.moduleOf("graft.server.Format$.write(Format.scala:70)").contains("format"))
    assert(Attribution.moduleOf("graft.plan.CubePlanner.members(CubePlanner.scala:71)").contains("plan"))
    assert(Attribution.moduleOf("graft.functions.KmvSketch$.merge(KmvSketch.scala:10)").contains("other"))
    assert(Attribution.moduleOf("graft.perfbench.Serve$.verify(Serve.scala:1)").isEmpty)
    assert(Attribution.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)").isEmpty)
    assert(Attribution.moduleOf(null).isEmpty)
  }
}
