package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It sets up one workload, runs it in a
  * closed loop (one client; the next op starts when the previous one
  * returned) for the requested seconds, and writes `result.json` with
  * every op's wall times, the set-up times, provenance and — on a traced
  * run — the per-layer numbers and `spans.jsonl`. All timing happens
  * here, around calls into the engine's public functions; the metric
  * arithmetic and the DuckDB oracle check happen in `run.py`.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --inputs DIR --out DIR
  *        Harness --workload pos_etl --seed N --gen-only DIR
  */
object Harness {

  /** Set-ups per run; `setup_s` is their median. The first is always
    * the slowest (a cold JVM), so three give the slower of two warm
    * ones. More do not fit the run-time budget (see README.md). */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, inputs: String, out: String,
                        genOnly: Option[String])

  def parseArgs(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1", m.getOrElse("--inputs", "."),
      m.getOrElse("--out", "."), m.get("--gen-only"))
  }

  /** Timed samples and failures of one op. */
  final class Op(val name: String, val layer: String,
                 val perPass: Int = 1) {
    val walls = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val errors = mutable.LinkedHashMap.empty[String, Int]
    def reset(): Unit = {
      walls.clear(); attempted = 0; failed = 0
      errors.clear()
    }
    def fail(e: Throwable): Unit = {
      failed += 1
      val k = e.getClass.getName
      errors(k) = errors.getOrElse(k, 0) + 1
      System.err.println(s"[perfbench] $name failed: $k: ${e.getMessage}")
    }
  }

  /** What a workload gives the loop. */
  trait Workload {
    /** Prepare the run once: generated tables live in `inputs`; the
      * workload writes under `out` (query results for the oracle check
      * in `out/checks`, POS data roots in `out/pos`). */
    def generate(inputs: String, out: String): Unit
    /** The set-up's warm-up: one representative op on a new session. */
    def warm(spark: SparkSession): Unit
    /** Untimed passes between set-up and the window. */
    def warmupPasses: Int
    /** One pass of the closed loop. */
    def pass(spark: SparkSession, tr: Tracer): Unit
    def ops: Seq[Op]
    /** Scan partitions `graft.Tables` picks for the corpus tables. */
    def scanPartitions(spark: SparkSession): Int
  }

  def session(cores: Int, out: String): SparkSession = {
    val s = graft.Sessions.local(cores.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    try {
      val l = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      l.replaceAll("[^0-9]", "").toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "pos_etl" => new PosEtl(seed)
    case "analytics_sf01" => new QuerySuite(Workloads.AnalyticsQueries)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toSeq)
    val cores = Runtime.getRuntime.availableProcessors
    a.genOnly match {
      case Some(dir) =>
        Workloads.writeWorkbooks(a.seed, dir)
        return
      case None =>
    }
    val out = new File(a.out).getAbsolutePath
    val loadStart = load1()
    val w = workload(a.workload, a.seed)

    // inputs once; then set-up several times: a new session and one
    // warm-up op; then untimed passes that compile each op's code
    val g0 = System.nanoTime()
    w.generate(a.inputs, out)
    val inputsS = (System.nanoTime() - g0) / 1e9
    var spark: SparkSession = null
    val setupParts = mutable.ArrayBuffer.empty[Map[String, Double]]
    val setupWalls = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, out)
      val t1 = System.nanoTime()
      w.warm(spark)
      val t2 = System.nanoTime()
      setupParts += Map("session_s" -> (t1 - t0) / 1e9,
        "warm_s" -> (t2 - t1) / 1e9)
      (t2 - t0) / 1e9
    }
    val quiet = new Tracer(spark, "warmup")
    val warmupWalls = (0 until w.warmupPasses).map { _ =>
      val t0 = System.nanoTime()
      w.pass(spark, quiet)
      (System.nanoTime() - t0) / 1e9
    }
    w.ops.foreach(_.reset())

    // the closed loop, traced or not. A pass starts only if, at the
    // last pass's pace, it ends inside the window; there is always one.
    val tr = new Tracer(spark, s"${a.workload}-${a.seed}")
    tr.enable(a.trace)
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || elapsed + passes.last <= a.seconds) {
      val p0 = System.nanoTime()
      tr.span("pass")(w.pass(spark, tr))
      passes += (System.nanoTime() - p0) / 1e9
    }
    tr.enable(false)
    val window = elapsed

    val layers =
      if (a.trace) Layers.perLayer(tr, passes.size, cores,
        w.scanPartitions(spark))
      else Map.empty[String, Double]
    if (a.trace) {
      val self = tr.selfSeconds
      val lines = tr.spans.map { s =>
        Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run,
          "self_s" -> self(s.id), "counts" -> s.counts))
      }
      Files.writeString(Paths.get(s"$out/spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
    val conf = spark.conf
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "window_s" -> window,
      "setup_walls" -> setupWalls, "setup_parts" -> setupParts.toSeq,
      "inputs_s" -> inputsS, "warmup_pass_walls" -> warmupWalls,
      "pass_walls" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> w.ops.map { o =>
        Map("name" -> o.name, "layer" -> o.layer, "per_pass" -> o.perPass,
          "walls" -> o.walls.toSeq,
          "attempted" -> o.attempted, "failed" -> o.failed,
          "errors" -> o.errors.toMap)
      },
      "per_layer" -> layers,
      "failed_task_kinds" -> {
        val m = mutable.Map.empty[String, Long]
        tr.counters.failureKinds.forEach((k, v) => m(k) = v.get)
        m.toMap
      },
      "provenance" -> Map(
        "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "loadavg_start" -> loadStart, "loadavg_end" -> load1(),
        "loaded_at_start" -> (loadStart > cores)))
    Files.writeString(Paths.get(s"$out/result.json"), Json(result) + "\n")
    spark.stop()
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
