package graft.perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** Seeded dashboard-request generator over the TpchStar `Sales` cube.
  *
  * Draws from the query grammar the server accepts: drilldowns, include /
  * exclude cuts, measure filters, sort/limit, parents, properties,
  * top/top_where, growth, rca, rate, logic-layer `/data` and members. Every
  * template is valid by construction (the server must answer 200), and
  * every measure is one whose aggregation does not depend on partial-sum
  * order, so a recomputed body can be compared byte for byte. */
object RequestGen {

  /** A drillable level: core spelling, logic-layer bare name, members. */
  final case class Lvl(spelling: String, bare: String, members: IndexedSeq[String]) {
    def dim: String = spelling.takeWhile(_ != '.')
  }

  val Year    = Lvl("Ship Date.Year", "Year", (1995 to 2001).map(_.toString))
  val Month   = Lvl("Ship Date.Month", "Month", (1 to 12).map(_.toString))
  val Flag    = Lvl("Return Flag.Return Flag", "Return Flag", IndexedSeq("A", "N", "R"))
  val Status  = Lvl("Line Status.Line Status", "Line Status", IndexedSeq("F", "O"))
  val Region  = Lvl("Geography.Region", "Region", (0 to 4).map(_.toString))
  val Nation  = Lvl("Geography.Nation", "Nation", (0 to 24).map(_.toString))
  val Segment = Lvl("Customer.Segment", "Segment",
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
  val Brand   = Lvl("Part.Brand", "Brand", (1 to 25).map(i => s"Brand#$i"))
  val Klass   = Lvl("Return Class.Return Class", "Return Class", IndexedSeq("1", "2", "3"))
  val Part    = Lvl("Part.Part", "Part", (0 until 20000).map(_.toString))
  val Supplier = Lvl("Geography.Supplier", "Supplier", (0 until 1000).map(_.toString))

  /** Levels with few members: safe to drill without a cut. */
  val coarse: IndexedSeq[Lvl] =
    IndexedSeq(Year, Month, Flag, Status, Region, Nation, Segment, Brand, Klass)
  /** Levels a members request may enumerate. */
  val memberLevels: IndexedSeq[Lvl] = coarse ++ IndexedSeq(Supplier)

  val measures: IndexedSeq[String] = IndexedSeq("Quantity", "Extended Price", "Revenue",
    "Avg Discount", "Row Count", "Max Price", "Min Price", "Weighted Avg Price",
    "Weighted Discount", "Unique Parts")
  /** Sum and count measures: the ones rca, growth and rate are asked about. */
  val additive: IndexedSeq[String] = IndexedSeq("Quantity", "Row Count")
  val formats: IndexedSeq[String] = IndexedSeq("csv", "csv", "jsonrecords", "jsonrecords", "jsonarrays")

  /** The repository's curated OLAP query set (SparkEntry's q01–q56), each
    * by the request family it exercises; the stream mix follows their
    * counts. q28_diagnosis is a data-quality report, not a dashboard
    * request, and has no family. */
  val curated: Map[String, String] = Map(
    "q01_agg" -> "agg", "q02_dim_join" -> "agg", "q03_multi_dim" -> "agg", "q04_cut_in" -> "agg",
    "q05_cut_exclude" -> "agg", "q06_cut_like" -> "agg", "q07_having" -> "agg",
    "q08_top" -> "top", "q09_top_where" -> "top",
    "q10_sort_limit" -> "agg", "q11_limit_offset" -> "agg", "q12_parents" -> "agg",
    "q13_props" -> "props", "q14_inline" -> "agg", "q15_growth" -> "growth", "q16_rca" -> "rca",
    "q17_rate" -> "rate", "q18_weighted" -> "agg", "q19_moe" -> "agg", "q20_median" -> "median",
    "q21_sparse_avg" -> "agg", "q22_default_member" -> "agg", "q23_exclude_default" -> "agg",
    "q24_year_month" -> "agg", "q25_members" -> "members", "q26_cut_only" -> "agg",
    "q27_degenerate_cut" -> "agg", "q29_rw_moe" -> "agg", "q30_wavg_moe" -> "agg",
    "q31_cut_fanout" -> "ll_data", "q32_exclude" -> "ll_data", "q33_captions" -> "props",
    "q34_json_schema" -> "agg", "q35_time_latest" -> "ll_data", "q36_cut_children" -> "ll_data",
    "q37_named_set" -> "ll_data", "q38_rca_debug" -> "rca", "q39_growth_filter" -> "growth",
    "q40_growth_month" -> "growth", "q41_top_rca" -> "rca", "q42_xml_schema" -> "agg",
    "q43_median_custom" -> "median", "q44_preagg" -> "agg", "q45_ll_locale" -> "ll_data",
    "q46_ll_topwhere" -> "ll_data", "q47_approx_distinct" -> "agg", "q48_growth_timeonly" -> "growth",
    "q49_multi_hierarchy" -> "agg", "q50_growth_top_mh" -> "growth", "q51_shared_dim" -> "agg",
    "q52_ll_fused" -> "ll_data", "q53_rca_fanout" -> "ll_data", "q54_rca_avg" -> "rca",
    "q55_rca_wsum" -> "rca", "q56_rca_max" -> "rca")

  /** Request families with their shares: how many curated queries each
    * has (agg 27, ll_data 9, rca 6, growth 5, top, props and median 2
    * each, rate and members 1 each; 55 in all). */
  val families: IndexedSeq[(String, Int)] =
    curated.values.groupBy(identity).view.mapValues(_.size).toIndexedSeq.sortBy { case (f, n) => (-n, f) }

  /** Family of the i-th request: a fixed interleaving in which every 55
    * consecutive requests hold each family exactly its share, so two
    * seeds differ in what is asked, never in the mix of request kinds. */
  val familyOrder: IndexedSeq[String] = {
    val total = families.map(_._2).sum
    // smooth weighted round-robin: spreads each family evenly over the period
    val credit = Array.fill(families.size)(0)
    (0 until total).map { _ =>
      families.indices.foreach(j => credit(j) += families(j)._2)
      val j = families.indices.maxBy(credit(_))
      credit(j) -= total
      families(j)._1
    }
  }

  final case class Request(family: String, path: String, params: Seq[(String, String)]) {
    /** Request target as sent: path plus the percent-encoded query. */
    lazy val uri: String = path + "?" + params.map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  private def pick[A](r: Random, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
  private def pickN[A](r: Random, xs: IndexedSeq[A], n: Int): IndexedSeq[A] =
    r.shuffle(xs).take(n)
  private def members(r: Random, l: Lvl, max: Int): String =
    pickN(r, l.members, 1 + r.nextInt(math.min(max, l.members.length))).mkString(",")

  /** Two coarse levels from different dimensions. */
  private def twoDims(r: Random): (Lvl, Lvl) = {
    val a = pick(r, coarse)
    (a, pick(r, coarse.filter(_.dim != a.dim)))
  }

  /** One request of the given family. */
  def draw(r: Random, family: String): Request = {
    val fmt = pick(r, formats)
    val agg = s"/cubes/Sales/aggregate.$fmt"
    family match {
      case "agg" =>
        val drills = if (r.nextBoolean()) Seq(pick(r, coarse)) else { val (a, b) = twoDims(r); Seq(a, b) }
        val ms = pickN(r, measures, 1 + r.nextInt(3))
        val p = Seq.newBuilder[(String, String)]
        drills.foreach(d => p += "drilldowns" -> d.spelling)
        ms.foreach(m => p += "measures" -> m)
        if (r.nextInt(2) == 0) {
          val c = pick(r, coarse)
          p += "cuts" -> ((if (r.nextInt(4) == 0) "~" else "") + c.spelling + "." + members(r, c, 3))
        }
        if (r.nextInt(5) == 0) p += "filters" -> s"${ms.head}.gt.${r.nextInt(20000)}"
        if (r.nextInt(4) == 0) {
          p += "sort" -> s"${ms.head}.${if (r.nextBoolean()) "desc" else "asc"}"
          p += "limit" -> (if (r.nextBoolean()) s"${1 + r.nextInt(10)}" else s"${r.nextInt(3)},${1 + r.nextInt(10)}")
        }
        if (drills.exists(d => d == Nation || d == Month) && r.nextInt(3) == 0) p += "parents" -> "true"
        Request(family, agg, p.result())
      case "top" =>
        val (by, inner) = pick(r, IndexedSeq((Region, Nation), (Year, Brand), (Year, Month),
          (Segment, Region), (Flag, Year), (Brand, Nation)))
        val m = pick(r, additive)
        val p = Seq("drilldowns" -> by.spelling, "drilldowns" -> inner.spelling, "measures" -> m,
          "top" -> s"${1 + r.nextInt(4)},${by.spelling},$m,${if (r.nextInt(4) == 0) "asc" else "desc"}")
        val tw = if (r.nextBoolean()) Seq("top_where" -> s"Row Count,gt.${r.nextInt(5000)}") else Nil
        Request(family, agg, p ++ (if (tw.nonEmpty && m != "Row Count") Seq("measures" -> "Row Count") else Nil) ++ tw)
      case "growth" =>
        val other = pick(r, coarse.filter(_.dim != Year.dim))
        val m = pick(r, additive)
        val p = Seq("drilldowns" -> Year.spelling, "drilldowns" -> other.spelling,
          "measures" -> m, "growth" -> s"${Year.spelling},$m")
        val extra = r.nextInt(3) match {
          case 0 => Seq("filters" -> "growth.lt.0")
          case 1 => Seq("sort" -> s"growth.${if (r.nextBoolean()) "asc" else "desc"}")
          case _ => Nil
        }
        Request(family, agg, p ++ extra)
      case "rca" =>
        val (a, b) = twoDims(r)
        val m = pick(r, additive)
        val cut = pick(r, coarse.filter(l => l.dim != a.dim && l.dim != b.dim))
        Request(family, agg, Seq("measures" -> m, "rca" -> s"${a.spelling},${b.spelling},$m") ++
          (if (r.nextBoolean()) Seq("cuts" -> s"${cut.spelling}.${members(r, cut, 2)}") else Nil))
      case "rate" =>
        val d = pick(r, coarse)
        val rl = pick(r, coarse.filter(_.dim != d.dim))
        val m = pick(r, additive)
        Request(family, agg, Seq("drilldowns" -> d.spelling, "measures" -> m,
          "rate" -> s"${rl.spelling}.${members(r, rl, 3)}"))
      case "ll_data" =>
        val drills = if (r.nextBoolean()) Seq(pick(r, coarse)) else { val (a, b) = twoDims(r); Seq(a, b) }
        val p = Seq.newBuilder[(String, String)]
        p += "cube" -> "Sales"
        p += "drilldowns" -> drills.map(_.bare).mkString(",")
        p += "measures" -> pickN(r, measures, 1 + r.nextInt(2)).mkString(",")
        val cut = if (r.nextBoolean()) Some(pick(r, coarse)) else None
        cut.foreach(c => p += c.bare -> members(r, c, 3))
        if (r.nextInt(4) == 0 && !(drills ++ cut).exists(_.dim == Year.dim)) p += "time" -> "Year.latest"
        Request(family, s"/data.$fmt", p.result())
      case "props" =>
        // Part drill narrowed by a part-key cut, with both properties
        val parts = pickN(r, Part.members, 2 + r.nextInt(8)).mkString(",")
        Request(family, agg, Seq("drilldowns" -> Part.spelling, "cuts" -> s"${Part.spelling}.$parts",
          "measures" -> pick(r, measures), "properties" -> "Part.Part.Part Type",
          "properties" -> "Part.Part.Part Size"))
      case "members" =>
        val l = pick(r, memberLevels)
        if (r.nextBoolean()) Request(family, s"/cubes/Sales/members.$fmt", Seq("level" -> l.spelling))
        else Request(family, s"/members.$fmt", Seq("cube" -> "Sales", "level" -> l.bare))
      case "median" =>
        val d = pick(r, IndexedSeq(Flag, Status, Klass))
        Request(family, agg, Seq("drilldowns" -> d.spelling, "measures" -> "Median Order Quantity") ++
          (if (r.nextBoolean()) Seq("cuts" -> s"${Year.spelling}.${members(r, Year, 2)}") else Nil))
    }
  }

  /** `n` pairwise-distinct requests (distinct in what they ask, not by a
    * nonce), deterministic in `seed`; the i-th is of family
    * `familyOrder(i % familyOrder.size)`. */
  def distinct(seed: Long, n: Int): IndexedSeq[Request] = {
    val r = new Random(seed)
    val seen = scala.collection.mutable.HashSet[String]()
    (0 until n).map { i =>
      val fam = familyOrder(i % familyOrder.size)
      Iterator.continually(draw(r, fam)).take(200).find(q => seen.add(q.uri))
        .getOrElse(throw new IllegalStateException(s"no new distinct '$fam' request after 200 draws"))
    }
  }

  /** A stream of `n` ranks over `pool` with Zipf(`s`) frequencies (rank
    * k has weight 1/(k+1)^s) held exactly rather than sampled: block by
    * block, each rank accrues its expected count and is emitted once per
    * whole unit, and the seed shuffles each block. Ranks start from
    * evenly spread fractional credits (golden-ratio steps) so the rare
    * ones do not arrive in lockstep. Which ranks occur, and how often, is
    * then the same for every seed, so the hit ratio an LRU cache sees
    * varies little from seed to seed; only the order does. */
  def zipfStream(seed: Long, n: Int, pool: Int, s: Double, block: Int = 32): IndexedSeq[Int] = {
    val r = new Random(seed)
    val w = Array.tabulate(pool)(k => 1.0 / math.pow(k + 1.0, s))
    val tot = w.sum
    val credit = Array.tabulate(pool)(k => (k * 0.6180339887498949) % 1.0)
    val out = IndexedSeq.newBuilder[Int]
    var size = 0
    while (size < n) {
      val blk = scala.collection.mutable.ArrayBuffer[Int]()
      (0 until pool).foreach { k =>
        credit(k) += w(k) / tot * block
        while (credit(k) >= 1) { blk += k; credit(k) -= 1 }
      }
      out ++= r.shuffle(blk)
      size += blk.size
    }
    out.result().take(n)
  }
}
