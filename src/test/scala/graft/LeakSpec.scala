package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** No executor storage left pinned after a query returns: run through
  * the registry and forced, each query may leave exactly the stages its
  * result still references — nothing it materialized along the way.
  * One query per operator family that materializes stages: d07 (Dedup's
  * CC loop), e01 (Pipeline's stage chain), s18 (Similarity's MMR
  * rounds), q35 (Relational's power iteration) and p15 (Sinks' refresh).
  *
  * The same for catalog tables: each query that persists an index may
  * leave exactly the tables its result still reads, and none once the
  * session releases its survivors.
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

  private def tables(): Set[String] =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSet

  // a table the plan reads by name, or whose location holds a file
  // root the plan scans (a path read of the store's files)
  private def readBy(df: DataFrame, candidates: Set[String]): Set[String] = {
    val rels = df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRelation => l }
    val names = rels.flatMap(_.catalogTable).map(_.identifier.table).toSet
    val roots = rels.flatMap(_.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
      case _ => Nil
    })
    candidates.filter { t =>
      val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location.getPath
      names(t) || roots.exists(r => r == loc || r.startsWith(loc + "/"))
    }
  }

  for (name <- Seq("s13_compacted_ivf_pq", "s16_deleted_ivf_pq",
      "d13_incremental_dedup", "m08_incremental_media_dedup",
      "t18b_persisted_bm25", "st17_streaming_lexical", "p03_bucketed_join"))
    test(s"$name leaves exactly the catalog tables its result reads") {
      val before = tables()
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val added = tables() -- before
      val read = readBy(df, added)
      assert(added == read, s"leaked: ${added -- read}")
      graft.core.Stages.releaseSurvivors()
      assert(tables() -- before == Set.empty, "released survivors must drop their tables")
    }
}
