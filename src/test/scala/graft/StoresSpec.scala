package graft

import graft.core.{Stages, Stores}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The store primitive: the layout it lands, appends and compacts, and
  * the lifecycle a scope gives every store landed inside it. */
class StoresSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def frame(n: Long, parts: Int = 1): DataFrame =
    spark.range(0, n, 1, parts).selectExpr("id", "id % 37 AS k")

  private def specOf(t: String): Option[BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec

  private def dataFiles(path: String): Int =
    Files.list(Paths.get(path)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  private def rows(t: String): Seq[(Long, Long)] =
    spark.table(t).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("append and compact keep the source's bucket and sort spec") {
    val t = Stores.land(frame(100), "spec_probe", "k")
    val spec = Some(BucketSpec(Stores.Buckets, Seq("k"), Seq("k")))
    assert(specOf(t) == spec)
    Stores.append(t, frame(120).filter("id >= 100"))
    assert(specOf(t) == spec)
    val c = Stores.compact(t)
    assert(specOf(c) == spec)
    assert(rows(c) == rows(t) && rows(c).size == 120)
    Seq(t, c).foreach(Stores.drop)
  }

  test("compact leaves at most one file per bucket and rows unchanged") {
    val t = Stores.land(frame(400, parts = 4), "frag_probe", "k")
    Stores.append(t, frame(500, parts = 3).filter("id >= 400"))
    val before = dataFiles(Stores.path(t))
    val c = Stores.compact(t, _.filter("id % 5 <> 0"))
    val after = dataFiles(Stores.path(c))
    assert(after <= Stores.Buckets, s"$after files for ${Stores.Buckets} buckets")
    assert(after < before, s"compaction must shrink the file count ($before -> $after)")
    assert(rows(c) == rows(t).filter(_._1 % 5 != 0))
    Seq(t, c).foreach(Stores.drop)
  }

  test("a scope drops an unreached store's table and files, also when it throws") {
    var (t, path) = ("", "")
    val n = Stages.scoped {
      t = Stores.land(frame(10), "unreached_probe", "k")
      path = Stores.path(t)
      spark.table(t).count()
    }
    assert(n == 10L)
    assert(!spark.catalog.tableExists(t) && !Files.exists(Paths.get(path)))
    val err = intercept[IllegalStateException] {
      Stages.scoped {
        t = Stores.land(frame(10), "thrown_probe")
        path = Stores.path(t)
        throw new IllegalStateException("mid-query failure")
      }
    }
    assert(err.getMessage == "mid-query failure")
    assert(!spark.catalog.tableExists(t) && !Files.exists(Paths.get(path)))
  }

  test("a reached store survives to the enclosing scope, by table or by path") {
    var (byTable, byPath, dropped) = ("", "", "")
    val out = Stages.scoped {
      val a = Stages.scoped {
        byTable = Stores.land(frame(20), "table_probe", "k")
        spark.table(byTable)
      }
      val b = Stages.scoped {
        byPath = Stores.land(frame(30), "path_probe")
        spark.read.parquet(Stores.path(byPath))
      }
      dropped = Stores.land(frame(40), "dropped_probe")
      assert(spark.catalog.tableExists(byTable) && spark.catalog.tableExists(byPath))
      assert(a.count() == 20L && b.count() == 30L)
      a.unionByName(b)
    }
    assert(!spark.catalog.tableExists(dropped), "the outer result does not read it")
    assert(spark.catalog.tableExists(byTable) && spark.catalog.tableExists(byPath))
    assert(out.count() == 50L)
    Stages.releaseSurvivors()
    assert(!spark.catalog.tableExists(byTable) && !spark.catalog.tableExists(byPath))
  }

  test("a store under the durable artifact root keeps its files when dropped") {
    val root = Files.createTempDirectory("graft-stores-durable").toString
    spark.conf.set("spark.graft.artifactRoot", root)
    try {
      var (t, path) = ("", "")
      Stages.scoped {
        t = Stores.land(frame(10), "durable_probe", "k")
        path = Stores.path(t)
        ()
      }
      assert(path.startsWith(root))
      assert(!spark.catalog.tableExists(t), "the catalog entry goes")
      assert(dataFiles(path) > 0, "the landed files stay")
      assert(spark.read.parquet(path).count() == 10L)
    } finally {
      spark.conf.unset("spark.graft.artifactRoot")
      graft.core.IO.deleteRecursively(Paths.get(root))
    }
  }
}
