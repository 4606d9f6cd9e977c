package graft.core

/** Ordered severity domain shared by every feed.
  * Reference semantics: /root/reference/common/priority.go:4-34 (ordered
  * enum Unknown < Negligible < Low < Medium < High < Critical < Defcon1).
  * The score<->severity banding of updater.go:293-333 is
  * `graft.operators.Enrich.fixedSeverity`/`backfilledScore`.
  */
object Severity {
  val Unknown    = "Unknown"
  val Negligible = "Negligible"
  val Low        = "Low"
  val Medium     = "Medium"
  val High       = "High"
  val Critical   = "Critical"
  val Defcon1    = "Defcon1"

  /** Ascending order; index = ordinal. Kept as a plain Seq so Spark
    * queries can use array_position(lit(ordering), sev) with no UDF. */
  val ordering: Seq[String] =
    Seq(Unknown, Negligible, Low, Medium, High, Critical, Defcon1)

  /** Records outside this set are dropped by the final gate
    * (reference: updater/updater.go:35-37,472,528). */
  val accepted: Seq[String] = Seq(Low, Medium, High, Critical)
}
