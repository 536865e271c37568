package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftglue.GraftSqlGlue
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The call sites of the Spark jobs `f` launches, in start order: a SQL
    * job's is its execution's (adaptive execution submits jobs from pool
    * threads). */
  def jobsOf(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    GraftSqlGlue.drainListenerBus(sc)
    val execSite = new ConcurrentHashMap[String, String]()
    val sites = new ConcurrentLinkedQueue[String]()
    val probe = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        sites.add(prop("spark.sql.execution.id").flatMap(id =>
            Option(execSite.get(id)))
          .orElse(prop("callSite.short"))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?"))
      }
    }
    sc.addSparkListener(probe)
    try { f; GraftSqlGlue.drainListenerBus(sc) }
    finally sc.removeSparkListener(probe)
    sites.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
