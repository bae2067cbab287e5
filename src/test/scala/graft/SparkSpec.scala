package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (Spark sessions are
  * expensive; ScalaTest suites run sequentially in one JVM). Config
  * mirrors Verify/Bench so specs exercise the same semantics. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private val scratchDirs = mutable.Buffer.empty[Path]

  /** A fresh temp directory that is deleted, with everything in it,
    * when the suite ends (the rule of `queries.withScratchDir`, for a
    * directory a suite's tests share). */
  protected def scratchDir(prefix: String): Path = synchronized {
    val dir = Files.createTempDirectory(prefix)
    scratchDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try scratchDirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()

  /** Runs `body` with session confs set, restoring their old values. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark jobs started while `body` runs. The listener bus delivers
    * events in order, so once a marker job's end is seen every job
    * `body` started has been counted. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    @volatile var markerDone = false
    @volatile var markerJob = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.spec") == "body") started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone = true
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty("graft.spec", "body")
      val out = try body finally sc.setLocalProperty("graft.spec", null)
      sc.setLocalProperty("graft.spec", "marker")
      try {
        val f = sc.parallelize(Seq(1), 1).countAsync()
        markerJob = f.jobIds.head
        f.get()
      } finally sc.setLocalProperty("graft.spec", null)
      val deadline = System.nanoTime() + 10000000000L
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markerDone, "listener bus did not drain")
      (out, started.get)
    } finally sc.removeSparkListener(l)
  }
}
