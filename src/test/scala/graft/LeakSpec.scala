package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** No executor storage left pinned after a query returns: run through
  * the registry and forced, each query may leave exactly the stages its
  * result still references — nothing it materialized along the way.
  * One query per operator family that materializes stages: d07 (Dedup's
  * CC loop), e01 (Pipeline's stage chain), s18 (Similarity's MMR
  * rounds), q35 (Relational's power iteration) and p15 (Sinks' refresh).
  */
class LeakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  // stage checkpoints only: the session's cache() memo stores (trained
  // centroids, codebooks) own their storage for the session
  private def pinnedStages(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id
    }.toSet

  private def referenced(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet

  for (name <- Seq("d07_dedup_clusters", "e01_curation_pipeline",
      "s18_mmr_rerank", "q35_pagerank", "p15_incremental_view"))
    test(s"$name leaves pinned exactly the stages its result references") {
      val before = pinnedStages()
      val df = SparkEntry.queries(name)(spark, sf)
      // the context tracks persisted RDDs weakly, and its cleaner would
      // unpersist a leaked stage once the driver garbage-collects it —
      // holding them here keeps a leak visible instead of GC-timed
      val held = spark.sparkContext.getPersistentRDDs
      assert(df.collect().nonEmpty)
      val added = pinnedStages().filter(held.contains) -- before
      assert(added == referenced(df),
        s"leaked: ${added -- referenced(df)}; " +
          s"freed while referenced: ${referenced(df) -- added}")
    }
}
