package graft.core

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The one way an operator persists an index.
  *
  * A store is an external parquet catalog table under its own scratch
  * dir, named `graft_<family>_<tag>` with a per-call unique tag, so
  * concurrent callers on one session never share a table. Bucketed
  * stores use [[Buckets]] buckets, sorted on the bucket columns within
  * each bucket; a serve-side join on those columns then reads the
  * store co-located, with no exchange on the store side.
  *
  * [[land]] hands the store to the innermost [[Stages.scoped]] block on
  * this thread. When that block exits, a store its result frame does
  * not read (by catalog table or by file root) is dropped: the catalog
  * entry goes, and so do the files, except under the durable
  * `spark.graft.artifactRoot`, whose lifecycle is the deployment's.
  * Stores the result reads pass to the enclosing block, and from the
  * outermost one to the record [[Stages.releaseSurvivors]] drains. A
  * session memo takes a store out of that lifecycle with [[keep]] and
  * releases it with [[drop]].
  */
object Stores {

  /** The bucket count of every bucketed store. */
  val Buckets = 16

  private final case class Store(spark: SparkSession, family: String,
      dir: String, path: String, durable: Boolean)

  private val live = new ConcurrentHashMap[String, Store]()

  /** Write `df` as a fresh store of `family`, bucketed and sorted on
    * `bucketCols` when any are given. Returns the table name. */
  def land(df: DataFrame, family: String, bucketCols: String*): String = {
    val table = s"graft_${family}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val dir = IO.scratchDir(s"graft-$family")
    live.put(table, Store(df.sparkSession, family, dir, s"$dir/$table",
      IO.artifactRoot.isDefined))
    Stages.hold(table)
    val spec = if (bucketCols.isEmpty) None
      else Some(BucketSpec(Buckets, bucketCols, bucketCols))
    writer(df.write.mode("overwrite"), spec)
      .option("path", path(table)).saveAsTable(table)
    table
  }

  /** Append `df` to a store under the bucket and sort spec its catalog
    * entry carries. */
  def append(table: String, df: DataFrame): Unit =
    writer(df.write.mode("append"), spec(df.sparkSession, table)).saveAsTable(table)

  /** Rewrite a store, through `f`, into a fresh store of the same
    * family and bucket spec. The bucketed scan is forced on, so each
    * bucket reads back as one partition: with no exchange the rewrite
    * is a per-bucket local sort that leaves at most one file per
    * bucket. Returns the new table name. */
  def compact(table: String, f: DataFrame => DataFrame = identity): String = {
    val s = store(table)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.spark.conf.getOption(key)
    s.spark.conf.set(key, "false")
    try land(f(s.spark.table(table)), s.family,
      spec(s.spark, table).toSeq.flatMap(_.bucketColumnNames): _*)
    finally prev match {
      case Some(v) => s.spark.conf.set(key, v)
      case None    => s.spark.conf.unset(key)
    }
  }

  /** The directory a live store's files land in. */
  def path(table: String): String = store(table).path

  /** Take a store out of its scope: the caller owns it from here and
    * releases it with [[drop]]. */
  def keep(table: String): String = { Stages.disown(table); table }

  /** Drop a store's catalog entry and, unless it lives under the
    * durable artifact root, its files. Idempotent. */
  def drop(table: String): Unit = Option(live.remove(table)).foreach { s =>
    try s.spark.sql(s"DROP TABLE IF EXISTS $table")
    catch { case _: IllegalStateException => () } // owner context gone
    if (!s.durable) IO.deleteRecursively(java.nio.file.Paths.get(s.dir))
  }

  /** The live stores `plan` reads, by catalog table or by file root. */
  private[core] def reachedBy(plan: LogicalPlan): Set[String] = {
    val rels = plan.collectWithSubqueries { case l: LogicalRelation => l }
    val tables = rels.flatMap(_.catalogTable).map(_.identifier.table).toSet
    val roots = rels.flatMap(_.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
      case _ => Nil
    })
    live.asScala.collect {
      case (t, s) if tables(t) || roots.exists(r => r == s.path || r.startsWith(s.path + "/")) => t
    }.toSet
  }

  private def store(table: String): Store = Option(live.get(table))
    .getOrElse(throw new IllegalArgumentException(s"not a live store: $table"))

  private def spec(spark: SparkSession, table: String): Option[BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).bucketSpec

  private def writer(w: DataFrameWriter[Row], spec: Option[BucketSpec]): DataFrameWriter[Row] =
    spec.fold(w.format("parquet")) { b =>
      w.format("parquet")
        .bucketBy(b.numBuckets, b.bucketColumnNames.head, b.bucketColumnNames.tail: _*)
        .sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
    }
}
