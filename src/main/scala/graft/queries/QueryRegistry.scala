package graft.queries

/** Every query graft registers, one [[QuerySpec]] each, gathered from
  * the family objects. Adding a query means adding one spec to its
  * family; [[graft.SparkEntry]], Verify, Bench and PlanLab all read
  * from here.
  */
object QueryRegistry {

  /** The queries built from the SF directory alone: the driver contract
    * plus the bench-only IVF probe ([[graft.SparkEntry.benchQueries]]).
    */
  val overSf: Seq[QuerySpec] = checked(EtlQueries.specs ++ EventQueries.specs ++
    DedupQueries.specs ++ SimilarityQueries.specs ++ TextQueries.specs ++
    CurationQueries.specs)

  /** Every registered query: [[overSf]] plus the mart read twins, whose
    * setup materializes the mart they read.
    */
  val all: Seq[QuerySpec] = checked(overSf ++ EtlQueries.martTwins)

  /** The driver contract: every query with a DuckDB oracle. */
  val contract: Seq[QuerySpec] = all.filter(_.oracle.isDefined)

  def named(name: String): QuerySpec =
    all.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no registered query $name"))

  /** `specs`, refusing a name registered twice (a name-keyed map would
    * silently keep only one of them).
    */
  private[graft] def checked(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
