package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import graft.SparkEntry
import graft.core.{GraftConfig, SchemaMessage, SingerMessage}
import graft.loader.GraftTarget
import graft.schema.{Flattener, JsonSchemaConverter}

/** Runs one workload against the program in one JVM and writes what it
  * measured and checked to `--out` as JSON; `run.py` turns that into the
  * benchmark's metrics.
  *
  * Usage: `Driver --workload <name> --inputs <dir> --work <dir> --slots <k>
  * --warmup <n> --ops <n> --trace <0|1> --out <file> [--block-limit <size>]
  * [--entries <entry>:<table>,...]`
  *
  * `--inputs` holds only what `gen.py` generated. Every op is timed with
  * tracing off unless `--trace 1`; then a [[Tracer]] attributes Spark work to
  * the program's source files and loader destinations go through
  * [[CountingFs]]. The first `--warmup` ops are discarded. */
object Driver {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One op: its wall time and the CPU time the JVM spent in it. */
  final case class Op(seconds: Double, cpu: Cpu, ok: Boolean, error: String = "")

  /** One timed execution of a query entry: build and execution wall time,
    * JVM CPU time, and the (rows, hash) of its result. */
  final case class Exec(entry: String, buildS: Double, execS: Double, cpu: Cpu,
      hash: (Long, Long), error: Option[String])

  /** CPU seconds of the whole JVM and of its JIT compiler threads.
    * `program` is the rest: task threads, the driver thread, Spark's own
    * threads and the garbage collector. The JIT's share is left out: it is
    * warm-up that fades over a run, not work of the op. */
  final case class Cpu(process: Double, jit: Double) {
    def -(o: Cpu): Cpu = Cpu(process - o.process, jit - o.jit)
    def +(o: Cpu): Cpu = Cpu(process + o.process, jit + o.jit)
    def program: Double = process - jit
  }
  val NoCpu: Cpu = Cpu(0, 0)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val ClockTicks = 100.0 // USER_HZ of Linux's /proc/<pid>/stat

  /** This JVM's CPU time so far. Time the host gave to other guests or
    * processes is not in it. The JIT's share is read per compiler thread
    * from /proc/self/task (0 where there is none); run.py starts the JVM
    * with a fixed set of compiler threads, so none ends and takes its
    * count with it. */
  def cpuNow(): Cpu = {
    val process = os.getProcessCpuTime / 1e9
    var jit = 0L
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).foreach { t =>
      try {
        val s = new String(Files.readAllBytes(new File(t, "stat").toPath), "UTF-8")
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
        val ticks = f(11).toLong + f(12).toLong // utime + stime
        if (name.contains("CompilerThre")) jit += ticks
      } catch { case _: java.io.IOException => } // the thread has ended
    }
    Cpu(process, jit / ClockTicks)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val slots = a("slots").toInt
    val work = new File(a("work"))
    val traced = a("trace") == "1"
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // a query_mix pass generates more code than the default 100 entries
      // hold; with them each pass compiled again what the last one evicted
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    if (traced) b.config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl",
      classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, work, traced)
    val result = try a("workload") match {
      case "incremental_syncs" => run.incrementalSyncs()
      case "query_mix"         => run.queryMix()
      case w                   => sys.error(s"unknown workload: $w")
    } finally spark.stop()
    Json.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")), result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent hash of the named columns (see gen.py's row hash). */
  def rowHash(cols: Seq[String]): Column = sum(crc32(concat_ws("|", cols.map { c =>
    if (c.startsWith("cents:")) round(col(c.drop(6)) * 100).cast("bigint").cast("string")
    else col(c).cast("string")
  }: _*).cast("binary")))

  /** Materializes `df` through its physical plan, returning (rows, sum of
    * 32-bit row hashes): the same plan a `noop` write runs, plus a hash
    * that lets passes be compared. */
  def hashRows(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, h = 0L
      it.foreach { r =>
        val u = proj(r)
        h += Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42) & 0xffffffffL
        n += 1
      }
      Iterator((n, h))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
  }
}

final class Run(spark: SparkSession, a: Map[String, String], work: File,
    traced: Boolean) {
  import Driver._

  private val sc = spark.sparkContext
  private val manifest: JsonNode =
    Json.readTree(new File(a("inputs"), "manifest.json"))
  private val warmup = a("warmup").toInt
  private val nOps = a("ops").toInt
  private val slots = a("slots").toInt
  /** query_mix's registry entries, each with the table it reads. */
  private val QueryEntries: Seq[(String, String)] = a.get("entries").toSeq
    .flatMap(_.split(",")).map { e => val Array(n, t) = e.split(":"); n -> t }
  private val tracer = if (traced) Some(new Tracer) else None
  tracer.foreach(sc.addSparkListener)

  private val stamps = scala.collection.mutable.LinkedHashMap[String, Any](
    "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
    "session_ready_ms" -> System.currentTimeMillis())
  private val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  /** The JVM's CPU time from its start to the end of the warm-up, less
    * the JIT's. */
  private var setupCpuS = 0.0
  private var gcAtWarmupEnd = 0L
  private var fsAtWarmupEnd = Seq.fill(4)(0L)
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def timed[T](scope: String)(body: => T): (Double, T) = {
    sc.setLocalProperty(Tracer.ScopeKey, scope)
    val t0 = System.nanoTime()
    try { val r = body; ((System.nanoTime() - t0) / 1e9, r) }
    finally sc.setLocalProperty(Tracer.ScopeKey, null)
  }

  /** Runs `body` as one op; a throw makes it a failed op. */
  private def op(scope: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    try {
      val (s, ok) = timed(scope)(body)
      Op(s, cpuNow() - c0, ok, if (ok) "" else "output check failed")
    } catch { case e: Throwable =>
      Op((System.nanoTime() - t0) / 1e9, cpuNow() - c0, ok = false,
        String.valueOf(e.getMessage).take(500))
    }
  }

  private val threadMx = ManagementFactory.getThreadMXBean
  private val probeData = Array.tabulate(1 << 23)(i => (i * 2654435761L).toInt)
  private var calibrationMs = Seq.empty[Double]

  /** A fixed probe of how fast the host runs memory-bound code right now,
    * in ms of this thread's CPU time: dependent random reads over a 32 MB
    * array, which the caches do not hold, then a hash map of boxed keys.
    * Run before every timed op and after the last one. */
  private def calibrate(): Unit = {
    val t0 = threadMx.getCurrentThreadCpuTime
    var i, x, h = 0
    while (i < 500000) { x = probeData((x ^ i) & (probeData.length - 1)); h += x; i += 1 }
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var j = 0L
    while (j < 50000L) { m.put(j * 31, j); j += 1 }
    if (h == 42 && m.size < 0) println(h)
    calibrationMs :+= (threadMx.getCurrentThreadCpuTime - t0) / 1e6
  }

  private def endWarmup(): Unit = {
    stamps("warmup_done_ms") = System.currentTimeMillis()
    setupCpuS = cpuNow().program
    PerfbenchBus.drain(sc)
    gcAtWarmupEnd = gcMs()
    fsAtWarmupEnd = CountingFs.snapshot()
  }

  private def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    ok
  }

  /** Count and row hash of `df` against the manifest's expectation. */
  private def checkStream(name: String, df: DataFrame, cols: Seq[String],
      expect: JsonNode): Boolean = {
    val r = df.agg(count(lit(1)), rowHash(cols)).head()
    val got = (r.getLong(0), Option(r.get(1)).map(_.toString.toLong).getOrElse(0L))
    val want = (expect.get("count").asLong, expect.get("hash").asLong)
    check(name, got == want, s"got (count, hash) $got, want $want")
  }

  private def hashCols(stream: String): Seq[String] =
    manifest.get("hash_columns").get(stream).elements().asScala.map(_.asText).toSeq

  private def destination(dir: File): String =
    if (traced) s"${CountingFs.Scheme}://${dir.getAbsolutePath}" else dir.getAbsolutePath

  private def writeConfig(name: String, fields: Map[String, Any]): String = {
    val f = new File(work, name)
    Json.writeValue(f, fields)
    f.getAbsolutePath
  }

  /** GraftTarget's CLI on the live session; returns the lines it echoed. */
  private def target(config: String, input: String): Seq[String] = {
    val buf = new ByteArrayOutputStream
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      GraftTarget.main(Array("--config", config, "--input", input))
    }
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Seq.empty
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  private def input(name: String): String =
    new File(a("inputs"), name).getAbsolutePath

  // ---- workloads -------------------------------------------------------

  def incrementalSyncs(): Map[String, Any] = {
    def files(key: String) = manifest.get(key).elements().asScala.toSeq
    val syncs = files("syncs")
    require(syncs.size == nOps, s"${syncs.size} syncs generated, want $nOps")
    def config(dir: File, name: String) = writeConfig(name, Map(
      "hdfs_destination_path" -> destination(dir),
      "hdfs_block_size_limit" -> a("block-limit")))
    def sync(config: String, s: JsonNode, scope: String) = op(scope) {
      target(config, input(s.get("file").asText)).lastOption
        .contains(s.get("state").asText)
    }
    // Warm-up: one thread per task slot, each syncing its share of the
    // warm-up files into a destination of its own; the JIT and codegen
    // caches they fill are shared. The timed syncs then start the measured
    // destination from empty.
    val warm = files("warmup_syncs").zipWithIndex.groupBy(_._2 % slots).values.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    warmupSeconds = try warm.zipWithIndex.map { case (share, i) =>
      val cfg = config(new File(work, s"warm-$i"), s"warm-$i.json")
      pool.submit(() => share.map(s => sync(cfg, s._1, "warmup").seconds))
    }.flatMap(_.get) finally pool.shutdown()
    endWarmup()
    val destDir = new File(work, "dest")
    val cfg = config(destDir, "config.json")
    val ops = syncs.map { s => calibrate(); sync(cfg, s, "op") }
    finishTimed()
    val expect = manifest.get("expect")
    val events = spark.read.parquet(new File(destDir, "events").getPath)
    val users = spark.read.parquet(new File(destDir, "users").getPath)
    val plans = spark.read.parquet(new File(destDir, "plans").getPath)
    val versions = plans.select("_sdc_table_version").distinct().collect().map(_.getLong(0)).toSeq
    val destOk = Seq(
      checkStream("events", events, hashCols("events"), expect.get("events")),
      checkStream("users", users, hashCols("users"), expect.get("users")),
      checkStream("plans", plans, hashCols("plans"), expect.get("plans")),
      check("plans_last_version_only",
        versions == Seq(expect.get("plans").get("version").asLong),
        s"versions present: $versions")).forall(identity)
    val out = parquetFiles(destDir)
    val stored = out.map(_.length).sum
    result(ops, Seq(destOk),
      rows = syncs.map(_.get("rows").asLong).sum,
      inputBytes = syncs.map(_.get("bytes").asLong).sum,
      filesOut = out.size, storedBytes = stored,
      singerSample = input(syncs.head.get("file").asText), config = cfg,
      extra = Map("dest_files" -> out.map(f =>
        destDir.toPath.relativize(f.toPath).toString -> f.length).sortBy(_._1).toMap))
  }

  def queryMix(): Map[String, Any] = {
    val dir = a("inputs")
    val dump = new File(work, "verify")
    val tables = manifest.get("tables")
    def drop(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // Warm-up, first round: every entry runs concurrently, each in its own
    // session (so a conf one sets stays its own), one per task slot, and
    // writes its result, Verify-style, for the DuckDB oracle check run.py
    // makes once per run, which the timed results are then held to. The JIT
    // and codegen caches it fills are shared, and it costs a fraction of a
    // sequential pass. A warm-up failure is logged; the entry then fails its
    // timed passes.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    warmupSeconds = try QueryEntries.map { case (e, _) =>
      pool.submit(() => op("warmup") {
        SparkEntry.queries(e)(spark.newSession(), dir).coalesce(1).write
          .mode("overwrite").parquet(new File(dump, e).getPath)
        true
      })
    }.map(_.get).map { o =>
      if (!o.ok) System.err.println(s"[perfbench] warm-up failed: ${o.error}")
      o.seconds
    } finally pool.shutdown()
    drop()
    dump.mkdirs() // even when every warm-up entry failed
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => QueryEntries.exists(_._1 == k) }
    Json.writeValue(new File(dump, "oracle_sql.json"), oracle)
    def pass(scope: String => String): Seq[Exec] =
      QueryEntries.map { case (e, _) =>
        sc.setLocalProperty(Tracer.ScopeKey, scope(e))
        val t0 = System.nanoTime()
        val c0 = cpuNow()
        val r = try {
          val df = SparkEntry.queries(e)(spark, dir)
          val t1 = System.nanoTime()
          val h = hashRows(df)
          val t2 = System.nanoTime()
          Exec(e, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpuNow() - c0, h, None)
        } catch { case ex: Throwable =>
          Exec(e, (System.nanoTime() - t0) / 1e9, 0.0, cpuNow() - c0, (0L, 0L),
            Some(String.valueOf(ex.getMessage)))
        } finally sc.setLocalProperty(Tracer.ScopeKey, null)
        drop()
        r
      }
    // The rest of the warm-up: sequential passes on the measured session,
    // the timed passes' own path. After the concurrent round alone, the
    // first timed pass cost ~1.5 times the CPU time of the second.
    warmupSeconds ++= (1 until warmup).map(_ =>
      pass(_ => "warmup").map(x => x.buildS + x.execS).sum)
    endWarmup()
    val passes = Seq.fill(nOps) { calibrate(); pass(identity) }
    finishTimed()
    // an entry execution fails when it throws or its result differs from
    // the entry's warm-up result, the dump run.py checks against the oracle
    val dumped = QueryEntries.map { case (e, _) =>
      e -> scala.util.Try(hashRows(spark.read.parquet(new File(dump, e).getPath))).toOption
    }.toMap
    val execs = passes.flatMap(_.map { x =>
      val ok = x.error.isEmpty && dumped(x.entry).contains(x.hash) && x.hash._1 > 0
      Op(x.buildS + x.execS, x.cpu, ok, x.error.getOrElse(if (ok) "" else
        s"${x.entry}: result (rows, hash) ${x.hash} differs from the oracle-checked " +
          dumped(x.entry)))
    })
    val inputRows = QueryEntries.map(q => tables.get(q._2).get("rows").asLong).sum
    val inputBytes = QueryEntries.map(q => tables.get(q._2).get("bytes").asLong).sum
    val files = parquetFiles(dump)
    val perEntry = QueryEntries.map { case (e, _) =>
      val rs = passes.map(_.find(_.entry == e).get)
      e -> Map("build_s" -> median(rs.map(_.buildS)), "exec_s" -> median(rs.map(_.execS)),
        "cpu_s" -> median(rs.map(_.cpu.program)), "rows" -> rs.head.hash._1, "hash" -> rs.head.hash._2)
    }.toMap
    result(execs, Seq.empty, rows = nOps * inputRows, inputBytes = nOps * inputBytes,
      filesOut = files.size, storedBytes = files.map(_.length).sum,
      singerSample = "", config = "",
      extra = Map("pass_seconds" -> passes.map(_.map(x => x.buildS + x.execS).sum),
        "pass_cpu_seconds" -> passes.map(_.map(_.cpu.program).sum),
        "pass_jit_seconds" -> passes.map(_.map(_.cpu.jit).sum),
        "entries" -> perEntry, "verify_dir" -> dump.getAbsolutePath))
  }

  // ---- results ---------------------------------------------------------

  private var gcTimedMs = 0L
  private var warmupSeconds = Seq.empty[Double]
  private var fsTimed = Seq.fill(4)(0L)

  private def finishTimed(): Unit = {
    stamps("timed_done_ms") = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    gcTimedMs = gcMs() - gcAtWarmupEnd
    fsTimed = CountingFs.snapshot().zip(fsAtWarmupEnd).map { case (x, y) => x - y }
    calibrate()
  }

  private def result(ops: Seq[Op], runChecks: Seq[Boolean], rows: Long,
      inputBytes: Long, filesOut: Int, storedBytes: Long,
      singerSample: String, config: String,
      extra: Map[String, Any] = Map.empty): Map[String, Any] = {
    stamps("checks_done_ms") = System.currentTimeMillis()
    val timedS = ops.map(_.seconds).sum
    val timedCpu = ops.map(_.cpu).foldLeft(NoCpu)(_ + _)
    val base = Map[String, Any](
      "stamps" -> stamps.toMap,
      "op_seconds" -> ops.map(_.seconds),
      "op_cpu_seconds" -> ops.map(_.cpu.program),
      "op_process_cpu_seconds" -> ops.map(_.cpu.process),
      "op_jit_seconds" -> ops.map(_.cpu.jit),
      "warmup_seconds" -> warmupSeconds,
      "op_errors" -> ops.filterNot(_.ok).map(_.error).distinct.take(5),
      "attempted" -> (ops.size + runChecks.size),
      "failed" -> (ops.count(!_.ok) + runChecks.count(!_)),
      "checks" -> checks.toSeq,
      "rows" -> rows, "input_bytes" -> inputBytes,
      "files_out" -> filesOut, "stored_bytes" -> storedBytes,
      "gc_s" -> gcTimedMs / 1000.0, "timed_s" -> timedS, "timed_cpu_s" -> timedCpu.program,
      "setup_cpu_s" -> setupCpuS,
      "calibration_ms" -> calibrationMs)
    val layers = tracer.map(t => Map("layers" -> layerMetrics(t, ops, storedBytes,
      singerSample, config, extra))).getOrElse(Map.empty)
    base ++ layers ++ extra
  }

  /** Per-layer metrics, each per op (a sync or a query pass). */
  private def layerMetrics(t: Tracer, ops: Seq[Op], storedBytes: Long,
      singerSample: String, config: String, extra: Map[String, Any]): Map[String, Double] = {
    val query = a("workload") == "query_mix"
    val perOp = nOps.toDouble
    val scopes = if (query) QueryEntries.map(q => t.scope(q._1)) else Seq(t.scope("op"))
    def total(f: ScopeStats => Double) = scopes.map(f).sum / perOp
    val wallS = ops.map(_.seconds).sum / perOp
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val loader = if (query) None else Some(scopes.head)
    m("loader.jobs_per_sync") = loader.map(_.jobs / perOp).getOrElse(0.0)
    m("loader.tasks_per_sync") = loader.map(_.tasks / perOp).getOrElse(0.0)
    Seq("SingerLoader", "ParquetSink", "Compaction", "VersionPurge").foreach { f =>
      m(s"loader.${f}_s") = loader.map(_.jobMsByLayer(f) / 1000.0 / perOp).getOrElse(0.0)
    }
    m("loader.driver_s") = loader.map(s =>
      wallS - Tracer.unionLength(s.jobIntervals.toSeq) / 1000.0 / perOp).getOrElse(0.0)
    val Seq(wr, ren, del, lst) = fsTimed
    m("fs.bytes_written_mb") = wr / 1e6 / perOp
    m("fs.write_amp") = if (storedBytes > 0) wr.toDouble / storedBytes else 0.0
    m("fs.renames") = ren / perOp
    m("fs.deletes") = del / perOp
    m("fs.listings") = lst / perOp
    m("spark.jobs") = total(_.jobs.toDouble)
    m("spark.tasks") = total(_.tasks.toDouble)
    m("spark.task_cpu_s") = total(_.taskCpuNs / 1e9)
    m("spark.task_run_s") = total(_.taskRunMs / 1000.0)
    m("spark.slot_util") = m("spark.task_run_s") / (wallS * slots)
    m("spark.input_mb") = total(_.inputBytes / 1e6)
    m("spark.output_mb") = total(_.outputBytes / 1e6)
    m("spark.spill_mb") = total(_.spillBytes / 1e6)
    m("spark.shuffle_write_mb") = total(_.shuffleWriteBytes / 1e6)
    m("spark.peak_exec_mem_mb") = scopes.map(_.peakExecMemBytes).max / 1e6
    m("spark.serial_stage_s") = total(_.serialStageMs / 1000.0)
    m("spark.gc_s") = gcTimedMs / 1000.0 / perOp
    m ++= schemaMicro(singerSample, config)
    val entries = extra.get("entries").map(_.asInstanceOf[Map[String, Map[String, Any]]])
    QueryEntries.foreach { case (e, _) =>
      val em = entries.map(_(e))
      m(s"queries.$e.build_s") = em.map(_("build_s").asInstanceOf[Double]).getOrElse(0.0)
      m(s"queries.$e.exec_s") = em.map(_("exec_s").asInstanceOf[Double]).getOrElse(0.0)
      m(s"queries.$e.jobs") = if (query) t.scope(e).jobs / perOp else 0.0
    }
    m("host.calibration_ms") = median(calibrationMs)
    m.toMap
  }

  /** Times the schema and core modules' public functions on this run's
    * Singer input: median over repeats. Zero where there is no Singer input. */
  private def schemaMicro(sample: String, config: String): Map[String, Double] = {
    val keys = Seq("schema.to_struct_type_ms", "schema.flatten_plan_ms",
      "core.config_parse_ms", "core.message_parse_us")
    if (sample.isEmpty) return keys.map(_ -> 0.0).toMap
    val lines = scala.io.Source.fromFile(sample).getLines().take(2000).toVector
    val schemas = lines.filter(_.contains("\"SCHEMA\"")).map(SingerMessage.parse)
      .collect { case s: SchemaMessage => s.schemaJson }
    val configJson = new String(Files.readAllBytes(new File(config).toPath), "UTF-8")
    def ms(reps: Int)(body: => Any): Double = median(Seq.fill(reps) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
    val structs = schemas.map(JsonSchemaConverter.toStructType)
    val empty = structs.map(s => spark.createDataFrame(java.util.List.of[Row](), s))
    Map(
      keys(0) -> ms(200)(schemas.foreach(JsonSchemaConverter.toStructType)),
      keys(1) -> ms(50)(empty.foreach(df => Flattener.flatten(df).schema)),
      keys(2) -> ms(200)(GraftConfig.fromJson(configJson)),
      keys(3) -> ms(5)(lines.foreach(SingerMessage.parse)) * 1000.0 / lines.size)
  }
}
