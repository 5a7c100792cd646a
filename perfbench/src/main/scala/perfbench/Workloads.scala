package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.config.EtlConfig
import graft.etl._
import graft.operators.HourlyRollup

import Main.{OpRecord, Opts, deleteTree, fingerprint}

/** A workload: set-up (input registration and a warm-up pass) and one
  * operation. Each operation times only its calls into the program; its
  * checks, cleanup and Bench's `clearCache()` isolation run off the clock. */
abstract class Workload(val spark: SparkSession, val o: Opts, val spans: Spans) {
  /** Per checked result: its parquet copy, oracle SQL and fingerprint. */
  val results = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  /** Failed closed-form checks of set-up results. */
  val checks = mutable.ArrayBuffer.empty[String]
  /** Seconds spent in each set-up phase, for the summary. */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(f: => T): T = {
    val (r, ms) = nanos(f)
    setupPhases(name) = ms / 1000.0
    r
  }
  val rng = new scala.util.Random(o.seed)

  def setup(): Unit
  def op(rec: OpRecord): Unit
  /** Operations per cycle; a run measures whole cycles. */
  def cycle: Int = 1

  /** The workload's query names, from `metrics.py` through the inputs. */
  val names: Seq[String] = o.inputs.get("rows").elements().asScala.map(_.asText()).toSeq

  def nanos[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Persisted RDDs, temp views and active streams left behind (the max
    * over the calls since the op began), then Bench's isolation step. Off
    * the clock. */
  def leaks(rec: OpRecord): Unit = {
    val streams =
      if (Engine.enabled) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        Engine.streamsStarted.get - Engine.streamsEnded.get
      } else spark.streams.active.length.toLong
    val counts = Seq(
      "cache.rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "cache.temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toDouble,
      "cache.streams_left" -> streams.toDouble)
    counts.foreach { case (k, v) => rec.extra(k) = math.max(v, rec.extra.getOrElse(k, 0.0)) }
    spark.catalog.clearCache()
  }

  /** Warm-up run of one named query: its result is written for the oracle
    * check and its fingerprint becomes the one every repetition must match. */
  def warm(name: String, oracle: Option[String], tables: String)(build: => DataFrame): Unit = {
    val dir = s"${o.work}/results/$name"
    build.write.mode("overwrite").parquet(dir)
    results(name) = Map("dir" -> dir, "oracle" -> oracle.orNull, "tables" -> tables,
      "fp" -> fingerprint(spark.read.parquet(dir)))
    spark.catalog.clearCache()
  }

  /** Build + fingerprint one named query inside spans; returns its ms. */
  def request(rec: OpRecord, name: String)(build: => DataFrame): Double = {
    val (fp, ms) = nanos {
      spans(s"row.$name") {
        val df = spans("query.build")(build)
        spans("query.exec")(fingerprint(df))
      }
    }
    val want = results(name)("fp")
    if (fp != want && rec.error.isEmpty) rec.error = s"$name: fingerprint $fp != $want"
    ms
  }

  def tablesDir: String = o.inputs.get("tables").asText()
  def tailTablesDir: String = o.inputs.get("tail_tables").asText()
  lazy val queries = SparkEntry.queries
  lazy val oracles = SparkEntry.oracleSql
}

/** Shared ETL plumbing: the generated lake's job config and the counts an
  * `EtlRunner.run` over it must report. */
trait Lake { self: Workload =>
  lazy val lake = o.inputs.get("lake")
  lazy val baseConfig = EtlConfig.fromJson(lake.get("config").toString)
  def expect(k: String): Long = lake.get(k).asLong

  def configAt(outDir: String): EtlConfig =
    baseConfig.copy(settings = baseConfig.settings.copy(output_dir = outDir))

  def counts(r: RunReport): Seq[Long] = {
    val js = r.jobs
    Seq(js.map(_.dataFilesListed).sum, js.map(_.dataRowsIn).sum, js.map(_.dataRowsOut).sum,
      js.map(_.dataFilesWritten).sum, js.map(_.metadataFilesListed).sum,
      js.map(_.metadataFilesWritten).sum)
  }

  /** Closed-form checks of a run report; empty when it is right. */
  def checkReport(r: RunReport): String = {
    val Seq(listed, in, out, written, metaListed, metaWritten) = counts(r)
    val want = Seq("files_listed" -> (listed, expect("files_listed")),
      "rows_in" -> (in, expect("rows_in")), "rows_out" -> (out, expect("rows_out")),
      "metadata_listed" -> (metaListed, expect("metadata_listed")))
    val bad = want.collect { case (k, (got, exp)) if got != exp => s"$k $got != $exp" }
    val lost = if (r.jobs.exists(_.lostOutput) || written == 0 || metaWritten == 0)
      Seq("lost output") else Nil
    (bad ++ lost).mkString("; ")
  }

  def parquetBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(root)
  }
}

/** One `EtlRunner.run` per operation, each into a fresh output dir. A traced
  * operation calls the same phase sequence through the public functions
  * instead, with one span per phase. */
final class EtlIngest(spark: SparkSession, o: Opts, spans: Spans)
    extends Workload(spark, o, spans) with Lake {

  private var runCounts: Seq[Long] = Nil

  def setup(): Unit = {
    val out = s"${o.work}/etl/warmup"
    val r = phase("etl_s")(EtlRunner.run(spark, configAt(out)).report)
    val err = checkReport(r)
    require(err.isEmpty, s"warm-up ETL run is wrong: $err")
    runCounts = counts(r)
    deleteTree(out)
    spark.catalog.clearCache()
  }

  /** `EtlRunner.run`'s sequence, phase by phase (one job per config entry,
    * no stats-catalog root in this session). */
  def mirror(config: EtlConfig): RunReport = {
    require(spark.conf.getOption("spark.graft.statsCatalogRoot").isEmpty)
    val s = config.settings
    val root = Sink.runRoot(s.output_dir)
    val reports = config.job_specific.zipWithIndex.map { case (job, i) =>
      val name = job.jobName(i)
      val data = spans("etl.read_plan") {
        PartitionedSource.readData(spark, s.base_partition, s.data_partition_in_release, job)
      }
      val listed = spans("etl.list") {
        PathResolver.dataPrefixes(s.base_partition, s.data_partition_in_release, job)
          .map(Tracker.countFiles).sum
      }
      val obsIn = Observation(s"${name}_rows_in")
      val obsOut = Observation(s"${name}_rows_out")
      val rolled = spans("etl.rollup_plan") {
        HourlyRollup(data.observe(obsIn, count(lit(1)).as("n")),
          passThrough = Seq("upgrade", "state", "county"))
          .observe(obsOut, count(lit(1)).as("n"))
      }
      val dataOut = spans("etl.write")(Sink.writeData(rolled, root, name))
      val rowsIn = obsIn.get("n").asInstanceOf[Long]
      val rowsOut = obsOut.get("n").asInstanceOf[Long]
      val filesOut = spans("etl.tracker")(Tracker.countFiles(dataOut))
      val meta = spans("etl.meta") {
        PartitionedSource.readMetadata(spark, job).map { m =>
          (m, m.inputFiles.length.toLong, Sink.writeMetadata(m, root, name))
        }
      }
      val metaWritten = spans("etl.catalog") {
        val w = meta.map { case (_, _, out) =>
          CatalogRegistry.registerMetadata(spark, out, EtlRunner.MetadataTablePrefix)
          out
        }
        CatalogRegistry.registerData(spark, dataOut, EtlRunner.DataTablePrefix, job.state)
        w
      }
      val metaOutFiles = spans("etl.tracker")(metaWritten.map(Tracker.countFiles).getOrElse(0L))
      JobReport(name, listed, rowsIn, rowsOut, filesOut,
        meta.map(_._2).getOrElse(0L), metaOutFiles)
    }
    RunReport(0.0, reports)
  }

  def op(rec: OpRecord): Unit = {
    val out = s"${o.work}/etl/op-${rec.i}"
    rec.label = if (rec.traced) "mirror" else "run"
    val (report, ms) = nanos {
      if (rec.traced) mirror(configAt(out))
      else EtlRunner.run(spark, configAt(out)).report
    }
    rec.ms = ms
    val err = checkReport(report)
    val got = counts(report)
    rec.error =
      if (err.nonEmpty) err
      else if (got != runCounts) s"counts $got != EtlRunner.run's $runCounts"
      else ""
    val Seq(listed, in, outRows, written, _, _) = got
    rec.extra ++= Seq("files_listed" -> listed.toDouble, "rows_in" -> in.toDouble,
      "rows_out" -> outRows.toDouble, "files_written" -> written.toDouble,
      "out_bytes" -> parquetBytes(out).toDouble, "in_bytes" -> expect("input_bytes").toDouble)
    deleteTree(out)
  }
}

/** The query loop: one request per operation, a seeded round-robin over
  * the saved statements (`saved.<label>`, through `QueryRegistry` over the
  * catalog tables set-up's ETL run registered), `SparkEntry` queries on the
  * query tables, and the heavy-tail operator and streaming rows on the
  * smaller tail tables. */
final class QueryLoop(spark: SparkSession, o: Opts, spans: Spans)
    extends Workload(spark, o, spans) with Lake {

  private var registry: Map[String, NamedQuery] = Map.empty
  private var order: Seq[String] = Nil
  private val tail: Set[String] =
    o.inputs.get("tail_rows").elements().asScala.map(_.asText()).toSet
  override def cycle: Int = names.size

  private def tables(name: String): String = if (tail(name)) tailTablesDir else tablesDir

  private def build(name: String): DataFrame =
    if (name.startsWith("saved.")) QueryRegistry.run(spark, registry, name.stripPrefix("saved."))
    else queries(name)(spark, tables(name))

  def setup(): Unit = {
    val etl = phase("etl_s")(EtlRunner.run(spark, configAt(s"${o.work}/catalog")))
    val err = checkReport(etl.report)
    require(err.isEmpty, s"set-up ETL run is wrong: $err")
    val sql = new String(getClass.getResourceAsStream("/graft/saved-queries.sql").readAllBytes(), "UTF-8")
    registry = QueryRegistry.load(sql, Map("metadata_table" -> etl.metadataTables.head,
      "data_table" -> etl.dataTables.head, "state" -> lake.get("state").asText()))
    phase("checked_pass_s") {
      rng.shuffle(names).foreach(n => warm(n, oracles.get(n), tables(n))(build(n)))
    }
    // closed-form checks of the saved statements against the generator
    val buildings = expect("buildings")
    def rows(n: String) = spark.read.parquet(results(n)("dir").toString).collect()
    val total = rows("saved.total_buildings").head.getLong(0)
    val groups = rows("saved.buildings_by_group").map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantGroups = lake.get("group_counts").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val top = rows("saved.top_buildings_per_group").length.toLong
    if (total != buildings) checks += s"total_buildings $total != $buildings"
    if (groups.values.sum != buildings || groups != wantGroups)
      checks += s"buildings_by_group $groups != $wantGroups"
    if (top != expect("top_rows")) checks += s"top_buildings_per_group rows $top"
  }

  /** Every request type once per cycle, in a fresh seeded order. */
  def op(rec: OpRecord): Unit = {
    if (rec.i % cycle == 0) order = rng.shuffle(names)
    val name = order(rec.i % cycle)
    rec.label = name
    rec.ms = request(rec, name)(build(name))
    if (tail(name)) rec.extra(s"row.$name.s") = rec.ms / 1000.0
  }
}
