package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The benchmark's JVM side. `run.py` generates the inputs, builds this
  * together with the program's sources, and starts it once per invocation:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs inputs.json --work DIR --out raw.json
  * }}}
  *
  * It sets up the workload, runs operations in a closed loop with one
  * client for `--seconds`, checks every operation's output, and writes the
  * raw samples (and, traced, the spans and engine counters) to `--out`.
  * Statistics are computed by `run.py`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: JsonNode, work: String, out: String)

  /** One timed operation and what the benchmark learned about it. */
  final class OpRecord(val i: Int, val traced: Boolean) {
    var label = ""
    var ms = 0.0
    var error = ""
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", mapper.readTree(new java.io.File(need("inputs"))),
      need("work"), need("out"))
  }

  /** Bench's session confs, with scratch space kept in the work dir. */
  def session(o: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.trace) b.config("spark.sql.queryExecutionListeners", classOf[Engine.QeListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fixed CPU kernel (host drift probe): median of three timings, ms. */
  def calibrate(): Double = {
    def kernel(): Double = {
      val a = Array.tabulate(400000)(i => ((i * 2654435761L) % 1000003L).toDouble)
      java.util.Arrays.sort(a)
      var s = 0.0
      var i = 0
      while (i < a.length) { s += math.sqrt(a(i)); i += 1 }
      s
    }
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); kernel(); (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(1)
  }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Row count plus two order-insensitive hashes of every row. Floating
    * columns are rounded to 6 places first, as the oracle comparison does,
    * so last-ulp aggregation-order differences do not count as wrong. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(quoted(f.name)).cast("double"), 6)
        case _ => col(quoted(f.name))
      }
    }
    val h = xxhash64(cols: _*)
    // folded per partition and merged on the Spark driver: one job over the
    // query's own plan, no extra exchange
    val parts = df.select(pmod(h, lit(1000000007L)), h).mapPartitions { it =>
      var n, s, x = 0L
      it.foreach { r => n += 1; s += r.getLong(0); x ^= r.getLong(1) }
      Iterator((n, s, x))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)).collect()
    Seq(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).foldLeft(0L)(_ ^ _))
  }

  def deleteTree(path: String): Unit = {
    val root = new java.io.File(path)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    if (root.exists()) rm(root)
  }

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val o = parse(args)
    var calibNs = System.nanoTime()
    val calib = mutable.ArrayBuffer(calibrate())
    val load = mutable.ArrayBuffer(loadavg())
    calibNs = System.nanoTime() - calibNs
    val spark = session(o)
    val sessionS = (System.nanoTime() - entryNs - calibNs) / 1e9
    val spans = new Spans
    val w: Workload = o.workload match {
      case "etl_ingest" => new EtlIngest(spark, o, spans)
      case "query_loop" => new QueryLoop(spark, o, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sc = spark.sparkContext
    /** One operation, traced or not, then the leak counts and Bench's
      * `clearCache()` isolation (off the clock). */
    def runOp(i: Int, traced: Boolean): OpRecord = {
      val rec = new OpRecord(i, traced)
      if (traced) {
        sc.addSparkListener(Engine.Listener)
        Engine.enabled = true
        spans.enabled = true
      }
      spans.op = i
      try spans("op") { w.op(rec) }
      catch {
        case e: Throwable =>
          rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      w.leaks(rec)
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(Engine.Listener)
        Engine.enabled = false
        spans.enabled = false
      }
      rec
    }

    val setupNs = System.nanoTime()
    w.setup()
    // Untimed warm-up cycles after the checked warm-up pass: the JIT keeps
    // compiling Spark's and the program's hot paths for several operations,
    // and timed operations taken on that curve would favour whichever
    // program fits more of them into the window. Their outputs are checked.
    val warmOps = w.phase("warmup_cycles_s") {
      (0 until o.inputs.path("warmup_cycles").asInt(0) * w.cycle).map(runOp(_, false))
    }
    warmOps.filter(_.error.nonEmpty).foreach(r => w.checks += s"warm-up op ${r.i}: ${r.error}")
    val prepareS = (System.nanoTime() - setupNs) / 1e9
    val setupS = (System.nanoTime() - entryNs - calibNs) / 1e9

    calib += calibrate()
    load += loadavg()

    // Closed loop, one client, whole cycles of operations, and at least
    // `min_ops` operations and two cycles, so the median never rests on a
    // handful of samples. Traced invocations run untraced and traced cycles
    // (listeners and spans on) in whole ABBA blocks, so the tracing overhead
    // is measured in the same invocation.
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val block = (if (o.trace) 4 else 1) * w.cycle
    val minOps = Seq(block, 2 * w.cycle, o.inputs.path("min_ops").asInt(3)).max
    while (System.nanoTime() < deadline || ops.size < minOps || ops.size % block != 0) {
      val traced = o.trace && ((ops.size / w.cycle + 1) / 2) % 2 == 1
      ops += runOp(warmOps.size + ops.size, traced)
    }
    calib += calibrate()
    load += loadavg()

    val spanOut = spans.recorded.toSeq.map { s =>
      val base = Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
      val interesting = s.name == "op" || s.name.startsWith("row.") ||
        s.name == "query.build" || s.name == "etl.write"
      if (interesting) base + ("engine" -> Engine.counters(s.startMs, s.endMs)) else base
    }
    val out = Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_ops" -> warmOps.size,
        "phases" -> w.setupPhases.toMap,
        "entry_to_first_op_s" -> setupS),
      "calib_ms" -> calib.toSeq,
      "loadavg_1m" -> load.toSeq,
      "ops" -> ops.toSeq.map(r => Map("i" -> r.i, "traced" -> r.traced, "label" -> r.label, "ms" -> r.ms,
        "error" -> r.error, "extra" -> r.extra.toMap)),
      "spans" -> spanOut,
      "results" -> w.results.toMap,
      "checks" -> w.checks.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), mapper.writeValueAsString(out))
    spark.stop()
  }
}
