package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: small core count for fast tests, same
  * configs as GraftSession otherwise. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Plan predicate for [[executionsDuring]]: holds a left-anti join. */
  def hasLeftAnti(p: LogicalPlan): Boolean =
    p.exists { case j: Join => j.joinType == LeftAnti; case _ => false }

  /** Runs `body` and counts the SQL executions it finished (successfully
    * or not) whose analyzed plan satisfies `pred`. */
  def executionsDuring[T](pred: LogicalPlan => Boolean)(body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (pred(qe.analyzed)) n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (pred(qe.analyzed)) n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
}
