package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark: sets the engine up, runs one workload from a
  * single closed-loop client thread for a fixed time, and writes what it
  * measured as JSON for `run.py`, which checks outputs and prints metrics.
  *
  * Usage: perfbench.Main --kind gates|kernels [--gates a,b,c]
  *   [--shuffle 0|1] --data DIR --seed N --seconds S --min-passes P
  *   --trace 0|1 --out DIR */
object Main {
  final case class Exec(name: String, rows: Long, build: () => DataFrame)
  type Output = (Array[Row], StructType)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val dir = a("data")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val minPasses = a.getOrElse("min-passes", "1").toInt
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    Files.createDirectories(out)
    val res = new Json
    val gates = a.get("gates").toSeq.flatMap(_.split(",").toSeq)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(gates.map(g => g -> SparkEntry.oracleSql(g)).toMap))

    // ── set-up: session start and input preparation, then the cold
    //    warm-up pass (first codegen and JIT of every query) ────────────
    val spark = GraftSession.local()
    val kernels = if (kind == "kernels") {
      val k = new Kernels(spark, dir, seed, 0.2); k.cache(); k
    } else null
    res.put("session_ready_ms", System.currentTimeMillis())
    log("session ready")
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(cores)) else None
    tracer.foreach(sc.addSparkListener)

    val execs: Seq[Exec] = kind match {
      case "gates" => gates.map(g => Exec(g, 0L, () => SparkEntry.queries(g)(spark, dir)))
      case "kernels" => kernels.kernels.map { case (n, rows, f) => Exec(n, rows, f) }
    }
    val rng = new scala.util.Random(seed)
    val fixedOrder = rng.shuffle(execs)
    def order(): Seq[Exec] = if (a.getOrElse("shuffle", "0") == "1") rng.shuffle(execs) else fixedOrder

    val errors = mutable.LinkedHashMap[String, String]()
    def collectAll(es: Seq[Exec]): Map[String, Output] = es.flatMap { e =>
      try {
        val df = e.build()
        df.queryExecution.executedPlan
        Some(e.name -> (df.collect(), df.schema))
      } catch { case t: Throwable => errors.getOrElseUpdate(e.name, t.toString); None }
    }.toMap
    val warmup = collectAll(fixedOrder)
    res.put("warmup_end_ms", System.currentTimeMillis())
    log("warm-up pass done")

    // ── timed loop: whole passes, at least minPasses, stopping at the pass
    //    boundary nearest to the time budget ─────────────────────────────
    val spans = mutable.ArrayBuffer[ExecSpan]()
    var nextId = 0
    def runOne(e: Exec, pass: Int): Unit = {
      val id = nextId
      nextId += 1
      if (trace) sc.setLocalProperty(Tracer.ExecKey, id.toString)
      val (b0, r0) = if (trace) Tracer.storage(sc) else (0L, 0)
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var (ms1, ms2, n1, n2) = (ms0, ms0, n0, n0)
      var ok = true
      var df: DataFrame = null
      try {
        df = e.build()
        n1 = System.nanoTime(); ms1 = System.currentTimeMillis()
        val qe = df.queryExecution
        qe.executedPlan
        n2 = System.nanoTime(); ms2 = System.currentTimeMillis()
        // every output row is produced and dropped, as by a noop sink,
        // on the plan just made (a noop write would plan a second time)
        SQLExecution.withNewExecutionId(qe, Some(e.name)) {
          qe.toRdd.foreach((_: InternalRow) => ())
        }
      } catch {
        case t: Throwable =>
          ok = false
          errors.getOrElseUpdate(e.name, t.toString)
      }
      val n3 = System.nanoTime()
      val ms3 = System.currentTimeMillis()
      if (n1 == n0) { n1 = n3; ms1 = ms3 }
      if (n2 == n0) { n2 = n3; ms2 = ms3 }
      sc.setLocalProperty(Tracer.ExecKey, null)
      val (ex, sn) =
        if (trace && ok) Tracer.planCounts(df) else (0, 0)
      val (b1, r1) = if (trace) Tracer.storage(sc) else (0L, 0)
      spans += ExecSpan(id, e.name, pass, ms0, ms1, ms2, ms3,
        (n1 - n0) / 1e9, (n2 - n1) / 1e9, (n3 - n2) / 1e9, ok,
        ex, sn, b1 - b0, r1 - r0)
    }
    // JIT compilation keeps speeding the queries up for a few passes after
    // the first: untimed passes run until it has mostly settled
    for (_ <- 1 to 2) order().foreach(e => runOne(e, -1))
    spans.clear()
    log("timed loop starts")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var passes = 0
    do {
      order().foreach(e => runOne(e, passes))
      passes += 1
    } while (passes < minPasses || elapsed + elapsed / passes / 2 < seconds)
    res.put("timed_wall_s", elapsed)
    log("timed loop done")
    res.put("passes", passes)
    res.put("peak_rss_mb", peakRssMb())
    res.put("live_mb", liveMb())
    res.put("execs", spans.map(s => Map("name" -> s.name, "pass" -> s.pass,
      "wall_s" -> s.wallS, "ok" -> s.ok)))
    res.put("rows", execs.map(e => e.name -> e.rows).toMap)

    // ── per-layer trace ────────────────────────────────────────────────
    tracer.foreach { tr =>
      tr.drain()
      val (layers, tree) = tr.report(spans.toSeq)
      res.put("layers", spans.zip(layers).map { case (s, m) =>
        m ++ Map("pass" -> s.pass.toDouble) + ("name" -> s.name) })
      val self = Tracer.selfTimes(tree)
      val lines = tree.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id))))
      Files.writeString(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
      res.put("functions", functionsLayer(spark, dir, seed, kernels))
    }

    // ── output checks (untimed): the warm-up's outputs and those of one
    //    more pass, in a fresh order, after the timed loop ────────────────
    val checked = Map("warmup" -> warmup, "after" -> collectAll(order()))
    log("check pass done")
    kind match {
      case "gates" =>
        for ((pass, outputs) <- checked; (name, (rowsOut, schema)) <- outputs) {
          spark.createDataFrame(java.util.Arrays.asList(rowsOut: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(out.resolve(s"dumps/$pass/$name").toString)
        }
      case "kernels" =>
        val refs = kernels.references()
        // rows differing from the reference, summed over both checked
        // passes; -1 when an output is missing
        res.put("kernel_mismatches", execs.map { e =>
          val wrong = checked.values.toSeq.map(_.get(e.name).map(o => kernels.wrong(e.name, o._1, refs)))
          e.name -> (if (wrong.exists(_.isEmpty)) -1L else wrong.flatten.sum)
        }.toMap)
    }
    res.put("errors", errors.toMap)
    Files.writeString(out.resolve("result.json"), res.render)
    log("result written")
    spark.stop()
  }

  private val start = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f] $msg")

  /** MiB the JVM still holds after the workload: heap in use after a full
    * collection plus memory off the heap in use (metaspace, code cache).
    * The heap is fixed in size, so the resident set cannot show what the
    * workload retains. Collections repeat until the figure settles: blocks
    * of broadcasts and shuffles whose last reference a collection dropped
    * are removed afterwards, by Spark's context cleaner. */
  private def liveMb(): Double = {
    val m = ManagementFactory.getMemoryMXBean
    def used = {
      System.gc()
      (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }
    var (last, now, rounds) = (Double.MaxValue, used, 1)
    while (last - now > 1.0 && rounds < 8) {
      Thread.sleep(500)
      last = now; now = used; rounds += 1
    }
    log(f"live $now%.1f MiB after $rounds collections")
    now
  }

  /** Process high-water resident set in MiB (VmHWM). */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** ns per input row of every kernel, with whole-stage codegen on, and
    * with it off and expressions interpreted: after one call in each mode,
    * the median of three calls per mode, the modes taking turns. Gate
    * workloads run it on a tenth-size copy of the kernels' inputs. */
  private def functionsLayer(spark: SparkSession, dir: String, seed: Long,
      existing: Kernels): Map[String, Double] = {
    val k = if (existing != null) existing
      else { val k = new Kernels(spark, dir, seed, 0.1); k.cache(); k }
    val modes = Seq("codegen" -> Seq("true", "FALLBACK"), "interp" -> Seq("false", "NO_CODEGEN"))
    def timed(f: () => DataFrame, conf: Seq[String]): Double = {
      spark.conf.set("spark.sql.codegen.wholeStage", conf(0))
      spark.conf.set("spark.sql.codegen.factoryMode", conf(1))
      val t0 = System.nanoTime()
      val qe = f().queryExecution
      SQLExecution.withNewExecutionId(qe, Some("functions")) {
        qe.toRdd.foreach((_: InternalRow) => ())
      }
      (System.nanoTime() - t0).toDouble
    }
    val res = k.kernels.flatMap { case (name, rows, f) =>
      val samples = (0 to 3).flatMap(_ => modes.map { case (m, conf) => m -> timed(f, conf) })
        .drop(modes.size).groupMap(_._1)(_._2)
      modes.map { case (m, _) =>
        s"functions.$name.ns_per_row.$m" -> Tracer.median(samples(m)) / rows }
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
    spark.conf.unset("spark.sql.codegen.factoryMode")
    if (existing == null) k.release()
    res.toMap
  }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and maps). */
final class Json {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def put(k: String, v: Any): Unit = fields(k) = v
  def render: String = Json.render(fields)
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
}
