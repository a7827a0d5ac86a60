package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark startup is expensive). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  /** The smallest scale of the synthetic test tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body(k)` for each key in turn, each under its own job group,
    * and returns the Spark jobs each one launched. Jobs of other threads
    * are not counted. Listener events post asynchronously, but a job
    * launched inside `body` blocks it, so a short drain after the last
    * key is enough. */
  def jobsPerKey(keys: Seq[String])(body: String => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val group = s"jobs-per-key-${java.util.UUID.randomUUID}-"
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group))
          .foreach(g => counts.computeIfAbsent(g.stripPrefix(group),
            _ => new AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(listener)
    try {
      keys.foreach { k =>
        sc.setJobGroup(group + k, k)
        try body(k) finally sc.clearJobGroup()
      }
      Thread.sleep(1000)
    } finally sc.removeSparkListener(listener)
    keys.map(k => k -> Option(counts.get(k)).fold(0)(_.get)).toMap
  }

  /** `body`'s result with generated code only (whole-stage codegen on),
    * then interpreted only (whole-stage codegen off), as RoundRewriteSpec
    * runs its cases. Build the input from an RDD: a projection over a
    * local relation is folded by the optimizer, which always interprets. */
  def inCodegenModes[T](body: => T): Seq[T] =
    Seq(true, false).map { codegen =>
      val conf = Seq(
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.wholeStage" -> codegen.toString)
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
}
