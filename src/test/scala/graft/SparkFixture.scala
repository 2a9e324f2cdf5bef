package graft

import graft.engine.Graft
import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (same JVM under
  * Test/fork). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  val Sf: String = "/root/testdata/sf0.001"

  def tmp(sub: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-test-$sub").toFile.getAbsolutePath
    SparkFixture.tmpDirs.add(d)
    d
  }

  /** Count Spark jobs started by `body` — the shared zero-job fence
    * (one definition: the settle heuristic must not diverge across the
    * four specs that pin metadata-only decisions, r14 review find).
    * Jobs are attributed by a unique JOB GROUP set on the calling
    * thread, so a concurrent suite's jobs in this shared-session JVM
    * can never leak into the count (the raw global-counter form was
    * itself a latent parallel-suite flake); the async listener bus is
    * drained by waiting for the filtered count to go quiet (400 ms,
    * 10 s deadline) after `body`. Counts only jobs launched from the
    * calling thread — exactly the driver-side decisions these fences
    * pin. */
  def countJobs[T](body: => T): (T, Int) = {
    val group = s"graft-fence-${java.util.UUID.randomUUID}"
    val c = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          c.incrementAndGet()
        }
        ()
      }
    }
    def settle(): Int = {
      val deadline = System.nanoTime() + 10000000000L
      var last = c.get
      var lastChange = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - lastChange < 400000000L) {
        Thread.sleep(20)
        if (c.get != last) { last = c.get; lastChange = System.nanoTime() }
      }
      c.get
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "graft spec job fence")
    try {
      val r = body
      val n = settle()
      (r, n)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}

object SparkFixture {
  /** Every [[SparkFixture.tmp]] dir, wiped with its contents by one
    * shutdown hook (`File.deleteOnExit` removes only empty dirs). */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
  sys.addShutdownHook(tmpDirs.forEach(d => Graft.wipeDir(d)))

  lazy val session: SparkSession = {
    val s = Graft.configure(SparkSession.builder().master("local[4]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
