package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fresh-JVM re-measurement of named gate queries — the adjudication
  * arm of Bench's cross-round regression gate.
  *
  * When a query's min rep survives the extra-rep escalation above its
  * prior-round archive, the remaining ambiguity is environmental: either
  * the plan regressed, or a contention window covered every in-process
  * rep (round 8's p01, round 9's st02 — both proved environmental only
  * by a hand-run fresh-JVM re-measurement). This main IS that procedure
  * (run it by hand with the same args for a one-off check), made
  * mechanical: Bench spawns it as a child process (clean JVM: no heap
  * history, no page-cache aliasing with the suite, its own codegen
  * cache), it times a discarded warmup plus `reps` timed reps per query
  * through the same noop-sink force as Bench, and prints one
  * machine-readable line per rep for the parent to parse and publish as
  * `regressions[].remeasured_sec`.
  *
  * args = sfDir reps name...
  * stdout protocol: `REMEASURE <name> <sec>` per timed rep (sec = -1 if
  * the rep threw), nothing else on lines starting with REMEASURE. */
object Remeasure {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val reps = args(1).toInt; val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def once(fn: (SparkSession, String) => DataFrame): Option[Double] =
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    for (name <- names) {
      SparkEntryLookup.resolve(name) match {
        case Some(fn) =>
          once(fn) // discarded warmup: fresh JVM pays its own codegen/C2
          for (_ <- 1 to reps) {
            val sec = once(fn).getOrElse(-1.0)
            println(String.format(java.util.Locale.ROOT,
              "REMEASURE %s %.6f", name, Double.box(sec)))
          }
        case None =>
          println(s"REMEASURE $name -1")
      }
    }
    spark.stop()
  }
}

/** Name → query fn over BOTH Bench surfaces: the SparkEntry gate map and
  * Bench's raw-operator rows (which are not SparkEntry queries but ARE
  * regression-gated), so any flagged name can be remeasured. */
private[tools] object SparkEntryLookup {
  def resolve(name: String): Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
    graft.SparkEntry.queries.get(name).orElse(graft.Bench.rawOperators.toMap.get(name))
}
