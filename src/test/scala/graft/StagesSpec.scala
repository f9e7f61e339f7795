package graft

import graft.core.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The stage-materialization primitive: what a scope frees, what it
  * hands on, and a source scan that keeps it the only way to
  * materialize a query-scoped stage. */
class StagesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddOf(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"not a materialized stage: $p")
  }

  private def frame(n: Long): DataFrame = spark.range(n).toDF("id")

  test("materialize pins the stage on return; a result that is not a frame frees it") {
    val src = frame(50).selectExpr("id", "id * 2 AS twice")
    val (staged, id) = Stages.scoped {
      val s = Stages.materialize(src)
      assert(persisted().contains(rddOf(s)), "the stage must be pinned on return")
      (s.collect().toSeq, rddOf(s))
    }
    assert(staged == src.collect().toSeq)
    assert(!persisted().contains(id), "a tuple result references no stage")
  }

  test("a scope that materializes two stages and then throws leaves the persisted RDDs as it found them") {
    val before = persisted()
    val err = intercept[IllegalStateException] {
      Stages.scoped {
        Stages.materialize(frame(10))
        Stages.materialize(frame(20).filter("id % 2 = 0"))
        assert(persisted().size == before.size + 2)
        throw new IllegalStateException("mid-query failure")
      }
    }
    assert(err.getMessage == "mid-query failure")
    assert(persisted() -- before == Set.empty)
  }

  test("a nested scope's survivor is freed by the outer scope when the outer result does not reach it") {
    val before = persisted()
    var inner = -1
    val out = Stages.scoped {
      val helper = Stages.scoped {
        val a = Stages.materialize(frame(30))
        val dropped = Stages.materialize(frame(40))
        inner = rddOf(a)
        assert(persisted().contains(rddOf(dropped)))
        a.filter("id < 5")
      }
      // the helper's result still references its stage: it survives the
      // inner scope, adopted by this one
      assert(persisted() -- before == Set(inner))
      assert(helper.count() == 5)
      Stages.materialize(helper.selectExpr("id + 1 AS id"))
    }
    assert(persisted() -- before == Set(rddOf(out)),
      "only the outer result's own stage may stay pinned")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
    Stages.releaseSurvivors()
    assert(!persisted().contains(rddOf(out)))
  }

  test("release frees a superseded stage early; the scope skips it") {
    val before = persisted()
    Stages.scoped {
      var cur = Stages.materialize(frame(8))
      for (_ <- 1 to 3) {
        val next = Stages.materialize(cur.selectExpr("id + 1 AS id"))
        Stages.release(cur)
        cur = next
        assert(persisted() -- before == Set(rddOf(cur)))
      }
      ()
    }
    assert(persisted() -- before == Set.empty)
  }

  test("source scan: no hand-rolled stage lifecycle outside Stages") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def count(text: String, needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
    val checkpoints = sources.map { p =>
      root.relativize(p).toString ->
        count(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
          ".localCheckpoint()")
    }.filter(_._2 > 0).toMap
    // the primitive itself, and the one session-lifetime memo store
    // (s26's base edge set, released by Similarity.releaseGraphStores)
    assert(checkpoints == Map("graft/core/Stages.scala" -> 1,
      "graft/operators/Similarity.scala" -> 1),
      "materialize query-scoped stages through graft.core.Stages")
    val shim = "unpersist" + "LocalCheckpoint"
    val testRoot = java.nio.file.Paths.get("src/test/scala")
    val users = (sources ++ java.nio.file.Files.walk(testRoot).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq)
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(shim))
    assert(users.isEmpty, s"the hand-rolled release shim is back: $users")
  }

  test("source scan: saveAsTable, bucketBy and DROP TABLE only inside Stores") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val users = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        Seq("saveAsTable", "bucketBy", "DROP TABLE").exists(text.contains)
      }
      .map(root.relativize(_).toString).toSet
    assert(users == Set("graft/core/Stores.scala"),
      "persist an index through graft.core.Stores")
  }
}
