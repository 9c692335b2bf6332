package perfbench

/** A query's operation type, tagged statically: `Write` if it persists
  * tables or files, `Read` otherwise.
  */
sealed trait Op
case object Read extends Op
case object Write extends Op

/** One workload query; `after` names the queries whose persisted tables it
  * reads (they must run before it in every pass).
  */
final case class Member(name: String, op: Op, after: Seq[String] = Nil)

final case class Workload(name: String, members: Seq[Member]) {
  members.flatMap(_.after).foreach(d =>
    require(members.exists(_.name == d), s"$name: $d is not a member"))
}

object Workloads {
  private def r(name: String) = Member(name, Read)
  private def w(name: String) = Member(name, Write)

  /** The paper's own path: ingest, reshape, features, forecasting fits. */
  val forecastLifecycle = Workload("forecast_lifecycle", Seq(
    w("q96_csv_parse_dates"), w("q99_geo_filter"),
    r("q23_ffill_limit"), r("q25_lags_diff"), r("q30_disaggregate"),
    r("q49_arimax_forecast")))

  /** Corpus curation: the capstone's eager pins, shuffles and codegen
    * churn, and a near-duplicate corpus persisted as an LSH-bucketed table
    * and served from it.
    */
  val curationComposites = Workload("curation_composites", Seq(
    r("q158_curation_capstone"), w("q202_lsh_bucketed_corpus")))

  val all: Seq[Workload] = Seq(forecastLifecycle, curationComposites)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))

  /** The pass order for a seed: a seeded shuffle, in which a query that
    * comes before one of its `after` queries is held back until that one
    * has run. The same seed always gives the same order.
    */
  def order(members: Seq[Member], seed: Long): Seq[Member] = {
    // java.util.Random's first draws barely differ between nearby seeds,
    // so the seed is mixed first
    val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    var left = rnd.shuffle(members)
    val out = Seq.newBuilder[Member]
    var done = Set.empty[String]
    while (left.nonEmpty) {
      val i = left.indexWhere(_.after.forall(done))
      require(i >= 0, s"cyclic dependencies among ${left.map(_.name).mkString(", ")}")
      out += left(i)
      done += left(i).name
      left = left.patch(i, Nil, 1)
    }
    out.result()
  }
}
