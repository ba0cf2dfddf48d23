package graft.perfbench

import graft.pipeline.{Hashing, PipelineOps}

/** The one-shot p52 trained-quantizer dedup verdict, computed on the
  * driver from the raw float vectors. It shares no code with the Spark
  * path it checks (quantization, training, probe assignment, cell pairing
  * and verdict assembly are all re-derived here), so a regression in any
  * of them makes the two disagree.
  *
  * p52's semantics: quantize each component to floor(x * QuantScale);
  * train on the training set with one Lloyd step (the ⌈√n⌉ lowest-id
  * nonzero vectors seed, each nonzero vector joins its nearest seed by
  * cosine, ties to the lower id, centroids are truncating integer means,
  * zero centroids drop); give every nonzero live vector its
  * [[PipelineOps.IvfProbes]] nearest centroids as probe cells; within each
  * cell of at most `cap` memberships, pair vectors at cosine ≥ `threshold`;
  * report per live vector its rank-1 cell and its smallest similar lower
  * id. */
object TrainedOracle {

  /** One verdict row: (vec_id, cid, dup_of, kept), as the program's
    * verdict frame has it. */
  final case class Row(vecId: Long, cid: Option[Long], dupOf: Option[Long], kept: Long)

  private final case class V(id: Long, q: Array[Long], nrm: Long)

  private def quantize(id: Long, x: Array[Float]): V = {
    val q = x.map(f => math.floor(f.toDouble * Hashing.QuantScale).toLong)
    V(id, q, dot(q, q))
  }

  private def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var d = 0
    while (d < a.length) { s += a(d) * b(d); d += 1 }
    s
  }

  private def cos(a: V, b: V): Double =
    dot(a.q, b.q).toDouble / (math.sqrt(a.nrm.toDouble) * math.sqrt(b.nrm.toDouble))

  /** Centroid ids of `v` nearest first (cosine descending, ties to the
    * lower id), the first `n` of them. */
  private def nearest(v: V, cents: Seq[V], n: Int): Seq[Long] =
    cents.map(c => (-cos(v, c), c.id)).sorted.take(n).map(_._2)

  /** The verdict over `live`, with the quantizer trained on `train`;
    * rows in vec_id order. */
  def verdict(train: Seq[(Long, Array[Float])], live: Seq[(Long, Array[Float])],
      cap: Int, threshold: Double): Seq[Row] = {
    val tv = train.map { case (id, x) => quantize(id, x) }.filter(_.nrm > 0)
    val k = math.max(1L, math.ceil(math.sqrt(train.size.toDouble)).toLong)
    val seeds = tv.filter(_.id < k)
    val trained = tv.groupBy(v => nearest(v, seeds, 1).head).toSeq.map { case (cid, vs) =>
      val mean = Array.tabulate(vs.head.q.length)(d => vs.map(_.q(d)).sum / vs.size)
      V(cid, mean, dot(mean, mean))
    }.filter(_.nrm > 0).sortBy(_.id)

    val lv = live.map { case (id, x) => quantize(id, x) }.sortBy(_.id)
    val probes = lv.filter(_.nrm > 0).map(v => v.id -> nearest(v, trained, PipelineOps.IvfProbes)).toMap
    val byId = lv.map(v => v.id -> v).toMap
    val cells = probes.toSeq.flatMap { case (id, cs) => cs.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val dupOf = scala.collection.mutable.Map.empty[Long, Long]
    cells.filter(_.size <= cap).foreach { ids =>
      for (j <- ids.indices; i <- 0 until j) {
        val (a, b) = (byId(ids(i)), byId(ids(j)))
        if (cos(a, b) >= threshold && dupOf.get(b.id).forall(_ > a.id)) dupOf(b.id) = a.id
      }
    }
    lv.map { v =>
      val d = dupOf.get(v.id)
      Row(v.id, probes.get(v.id).flatMap(_.headOption), d, if (d.isEmpty) 1L else 0L)
    }
  }
}
