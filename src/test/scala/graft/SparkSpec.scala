package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Fresh scratch dir under target/ (never outside the repo). */
  def tmpDir(prefix: String): String = {
    val base = java.nio.file.Paths.get("target", "test-tmp")
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** Order-insensitive DataFrame equality on a stable sort. */
  def assertSameRows(
      got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    val cols = want.columns.sorted.toSeq
    val g = got.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val w = want.select(cols.map(org.apache.spark.sql.functions.col): _*)
    assert(g.schema.map(f => (f.name, f.dataType)) ===
      w.schema.map(f => (f.name, f.dataType)), "schema mismatch")
    val diff1 = g.exceptAll(w).count()
    val diff2 = w.exceptAll(g).count()
    assert(diff1 == 0 && diff2 == 0,
      s"row mismatch: got-not-want=$diff1 want-not-got=$diff2")
  }

  /** Expand through AQE plans and query stages (incl. Spark 4's
    * ResultQueryStage): their inner plans are internal state, not
    * children, so a plain .collect stops at them. */
  def flattenPlan(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
    case s: QueryStageExec => flattenPlan(s.plan)
    case r: ReusedExchangeExec => flattenPlan(r.child)
    case other => other.children.flatMap(flattenPlan)
  })

  /** Run `f`; return its result and the plans of the file writes it
    * ran (listener delivery is async, so this polls for them). */
  def withWritePlans[T](f: => T): (T, Seq[QueryExecution]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      def writes = plans.asScala.toSeq.filter { qe =>
        val p = qe.executedPlan.toString
        p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
      }
      var tries = 0
      while (writes.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      (out, writes)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Whether the plan scans any file under `dir`. */
  def scansUnder(qe: QueryExecution, dir: String): Boolean = {
    val abs = java.nio.file.Paths.get(dir).toAbsolutePath.toString
    flattenPlan(qe.executedPlan).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(abs))
      case _ => false
    }
  }
}
