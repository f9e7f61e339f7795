package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.util.chaining._

/** The one way an operator materializes a query-scoped stage.
  *
  * [[materialize]] is exactly `localCheckpoint()` — eager, with the same
  * stats, partitioning and plans — and registers the checkpoint's RDD
  * with the innermost [[scoped]] block on this thread. When that block
  * exits, normally or by exception, it unpersists every stage it
  * registered that its result frame's analyzed plan does not reach; the
  * reached ones (survivors) pass to the enclosing block. Survivors of an
  * outermost block, and stages materialized outside any block, are
  * recorded until [[releaseSurvivors]] drains them. The record holds
  * them weakly: once the caller drops the result, Spark's ContextCleaner
  * frees them as it frees any unreferenced persisted RDD. `SparkEntry.queries`
  * and `Bench.rawOperators` open the outermost block, so operators carry
  * no lifecycle code. Unpersist is non-blocking: the driver never waits
  * on block removal. A block owns the [[Stores]] landed inside it under
  * the same rule: the ones its result does not read are dropped on exit.
  */
object Stages {
  /** A block's stages by RDD id, and the [[Stores]] it landed. */
  private final class Scope {
    val stages = mutable.LinkedHashMap.empty[Int, RDD[_]]
    val stores = mutable.LinkedHashSet.empty[String]
  }
  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)
  private val survivors = new ConcurrentHashMap[Int, WeakReference[RDD[_]]]()
  private val storeSurvivors = ConcurrentHashMap.newKeySet[String]()

  def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint().tap(stageRdd(_).foreach(register))

  /** Free a stage before its scope exits — an iterative loop's
    * superseded round, once the next round is materialized. */
  def release(df: DataFrame): Unit = stageRdd(df).foreach { r =>
    scopes.get.foreach(_.stages.remove(r.id))
    survivors.remove(r.id)
    r.unpersist(blocking = false)
  }

  def scoped[T](body: => T): T = {
    val scope = new Scope
    scopes.set(scope :: scopes.get)
    var result = Option.empty[LogicalPlan]
    try body.tap {
      case ds: Dataset[_] => result = Some(ds.queryExecution.analyzed)
      case _ =>
    } finally {
      scopes.set(scopes.get.tail)
      val rdds = result.fold(Set.empty[Int])(
        _.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet)
      for ((id, r) <- scope.stages)
        if (rdds(id)) register(r) else r.unpersist(blocking = false)
      val stores = if (scope.stores.isEmpty) Set.empty[String]
        else result.fold(Set.empty[String])(Stores.reachedBy)
      for (t <- scope.stores) if (stores(t)) hold(t) else Stores.drop(t)
    }
  }

  /** Unpersist every recorded survivor and drop every surviving store —
    * the end of a session's use of the results it was handed. */
  def releaseSurvivors(): Unit = {
    survivors.keySet.forEach { id =>
      Option(survivors.remove(id)).flatMap(w => Option(w.get)).foreach { r =>
        try r.unpersist(blocking = false)
        catch { case _: IllegalStateException => () } // owner context gone
      }
    }
    storeSurvivors.forEach(t => if (storeSurvivors.remove(t)) Stores.drop(t))
  }

  private[graft] def survivorCount: Int = survivors.size

  /** Record a landed store with the innermost block (see [[Stores.land]]). */
  private[core] def hold(table: String): Unit = scopes.get match {
    case inner :: _ => inner.stores += table
    case Nil => storeSurvivors.add(table)
  }

  /** Stop tracking a store (see [[Stores.keep]]). */
  private[core] def disown(table: String): Unit = {
    scopes.get.foreach(_.stores -= table)
    storeSurvivors.remove(table)
  }

  private def register(r: RDD[_]): Unit = scopes.get match {
    case inner :: _ => inner.stages(r.id) = r
    case Nil =>
      survivors.values.removeIf(_.get == null)
      survivors.put(r.id, new WeakReference(r))
  }

  private def stageRdd(df: DataFrame): Option[RDD[_]] =
    Some(df.queryExecution.analyzed).collect { case l: LogicalRDD => l.rdd }
}
