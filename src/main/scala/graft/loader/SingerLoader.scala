package graft.loader

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._
import graft.schema.{Flattener, JsonSchemaConverter}

/** The Singer → partitioned-parquet dataflow, Spark-first (reference
  * pipeline: target_hdfs/target.py + sinks.py; see SURVEY §3.1).
  *
  * Control plane (SCHEMA / STATE / ACTIVATE_VERSION / BATCH — a handful
  * of lines) is reduced by ONE per-partition fold over the routed lines
  * ([[controlPass]]), merged and parsed on the driver; the same pass yields
  * the protocol checks and each stream's record count, which decide the
  * rest of the sync without further Spark actions (no emptiness probes for
  * streams the pass counted, `METRIC` record counters on stderr). Record
  * validation then runs as a second fold over every constrained stream
  * before any stream is written. Both folds are one stage each: no
  * exchange, no sort, and the routed cache is built inside the control
  * fold's own tasks.
  * The record plane never leaves the executors: records are routed by
  * `json_tuple` on the raw line (one parse pass, persisted so the
  * per-stream writes re-read the routed cache instead of rescanning raw
  * input), parsed with `from_json` against the stream's converted
  * `StructType`, flattened and projected as pure Catalyst expressions.
  * Every stream's output files — compaction rewrites, fresh files, and the
  * ACTIVATE_VERSION purge folded into the stream's own write — are then
  * planned on the driver ([[ParquetSink.plan]]) and written by ONE Spark
  * job, one task per file, and committed by ONE journaled commit
  * ([[ParquetSink.commit]]; the class doc there has the protocol). A sync
  * is the control fold, the validation fold and that write job; a
  * journal a crashed sync left is rolled forward or back first
  * ([[ParquetSink.recover]]). The STATE is returned only after the commit.
  * No per-record driver loop anywhere: parallelism is the number of input
  * splits, and the only shuffle is the optional repartition by
  * `partition_cols`.
  *
  * Protocol strictness (singer-sdk parity): lines without a `type`, RECORDs
  * without a payload, RECORDs for undeclared streams, and conflicting
  * SCHEMAs for one stream within a batch all raise instead of dropping data.
  *
  * Ordering semantics for batch replay: Spark's file source packs splits by
  * size, not emission order, so "last STATE wins" is defined per-batch, not
  * per-line. That is safe for the at-least-once contract (an older state
  * only causes extra replay, never loss); in-batch schema evolution is
  * rejected loudly rather than resolved by an order guess.
  *
  * The reference's count/size buffering knobs (`max_batch_size`,
  * `max_pyarrow_table_size` — A8/A10) bound *loader memory*, a concern
  * Spark's executor memory manager owns natively; their file-sizing effect
  * maps to `spark.sql.files.maxRecordsPerFile` if wanted.
  */
object SingerLoader {

  final case class LoadResult(
      streams: Seq[String],
      lastState: Option[String],
      activateVersions: Seq[ActivateVersionMessage],
      schemas: Map[String, SchemaMessage])

  /** Load a Singer JSONL file (batch replay of a tap's output). */
  def loadFile(spark: SparkSession, path: String, config: GraftConfig): LoadResult =
    load(spark, spark.read.textFile(path), config)

  /** @param knownSchemas schemas carried over from earlier batches (the
    *                     streaming path: one SCHEMA message, then record-only
    *                     appends across triggers) */
  def load(spark: SparkSession, lines: Dataset[String], config: GraftConfig,
      knownSchemas: Map[String, SchemaMessage] = Map.empty): LoadResult = {
    // NOT spread: unlike the parquet tables, text input is byte-range
    // splittable (openCost-floored), so the parse already parallelizes;
    // a repartition ahead of it was measured ~25% SLOWER at 100k rows —
    // shuffling the raw JSON strings costs more than the extra cores win.
    val routed = route(lines).persist()
    // one wall-clock stamp per load, shared by every stream (singer-sdk's
    // sync_started_at); only meaningful when add_record_metadata is on
    val syncStartedAt = new java.sql.Timestamp(System.currentTimeMillis())
    // finish or undo a commit a crashed sync left behind, before anything
    // reads the destination
    ParquetSink.recover(spark, config)
    try {
      // ---- control plane: ONE partition fold, ONE bounded collect ----
      val pass = controlPass(routed)
      def rows(kind: String) = pass.filter(_.kind == kind)
      rows("untyped").headOption.foreach(r => throw new InvalidConfigException(
        s"line without a Singer 'type': ${r.last.take(200)}"))
      rows("null_record").headOption.foreach(r => throw new InvalidConfigException(
        s"RECORD message without a record payload: ${r.last.take(200)}"))
      rows("unknown").headOption.foreach(r => throw new InvalidConfigException(
        s"unknown Singer message type: ${r.key}"))
      // SCHEMA / ACTIVATE_VERSION / BATCH as first-seen distinct lines in
      // input order (the pass is sorted by first position), then the single
      // last STATE
      val control = (rows("control") ++ rows("state")).map(r => SingerMessage.parse(r.last))
      val records = rows("record").map(r => r.key -> StreamRecords(r.n, r.versioned)).toMap

      val schemas = scala.collection.mutable.LinkedHashMap.empty[String, SchemaMessage]
      knownSchemas.foreach { case (k, v) => schemas(k) = v }
      var lastState: Option[String] = None
      val activates = Seq.newBuilder[ActivateVersionMessage]
      val batches = Seq.newBuilder[BatchMessage]
      control.foreach {
        case sm: SchemaMessage =>
          // in-batch schema evolution: reject loudly (file-split order is
          // size-based, so "which SCHEMA came last" is not well-defined)
          if (schemas.get(sm.stream).exists(_.schemaJson != sm.schemaJson))
            throw new SchemaChangedException(
              s"conflicting SCHEMA messages for stream '${sm.stream}' in one batch")
          schemas(sm.stream) = sm
        case st: StateMessage           => lastState = Some(st.valueJson)
        case av: ActivateVersionMessage => activates += av
        case bm: BatchMessage           => batches += bm
        case _                          =>
      }
      val batchesByStream = batches.result().groupBy(_.stream)
      val batchOrphans = batchesByStream.keys.filterNot(schemas.contains)
      if (batchOrphans.nonEmpty)
        throw new InvalidConfigException(
          s"BATCH messages for streams with no SCHEMA: ${batchOrphans.mkString(", ")}")
      // records for a stream with no SCHEMA are a protocol violation
      // (singer-sdk raises on RECORD-before-SCHEMA; so do we)
      val orphan = records.keys.filterNot(schemas.contains)
      if (orphan.nonEmpty)
        throw new InvalidConfigException(
          s"RECORD messages for streams with no SCHEMA: ${orphan.mkString(", ")}")
      def recordsOf(stream: String) =
        records.getOrElse(stream, StreamRecords(0L, versioned = false))

      // stream-level stream maps resolve each input stream to its output
      // name (aliasing) or to suppression (`__NULL__` / `__else__`
      // catch-all) BEFORE any record work — a suppressed stream costs
      // nothing beyond its control-plane entry. A schema-only stream writes
      // no file (the reference writes none either); the pass's count decides
      // that without a Spark job.
      val toWrite = schemas.values.toSeq.flatMap { sm =>
        config.resolveStream(sm.stream).map(out => (sm, out, recordsOf(sm.stream),
          batchesByStream.getOrElse(sm.stream, Nil).flatMap(_.manifest)))
      }.filter { case (_, _, recs, files) => recs.n > 0 || files.nonEmpty }
      // JSON-Schema validation covers inline RECORDs (BATCH files are
      // tap-encoded bulk payloads and bypass per-record validation —
      // singer-sdk parity). It runs for every stream BEFORE any stream is
      // written, so a violation anywhere leaves no partial batch behind.
      if (config.validateRecords)
        validate(routed, toWrite.collect { case (sm, _, recs, _) if recs.n > 0 => sm })

      // ACTIVATE_VERSION, resolved through the same stream-level maps (an
      // aliased stream's data lives under its output name; a suppressed
      // stream has none). Several in one batch keep the rows at or above
      // the largest.
      val acts = activates.result()
      val activated = acts.flatMap(av => config.resolveStream(av.stream).map(_ -> av.version))
        .groupMapReduce(_._1)(_._2)(math.max)

      // ---- record plane: fully distributed per stream, planned here and
      // written by ONE staged job and ONE journaled commit for the sync ----
      val writes = toWrite.map { case (sm, outStream, recs, batchFiles) =>
        val nested = JsonSchemaConverter.toStructType(sm.schemaJson)
        val inline = routed
          .filter(col("t") === "RECORD" && col("stream") === sm.stream)
          .select(col("record"), col("version"), col("te"))
        // BATCH manifests: each referenced file is JSONL with one record
        // payload per line (gzip decoded by extension in Hadoop's text
        // source). Unioned BEFORE from_json so batch rows flow through the
        // identical parse → flatten → stream-maps → extra-fields path as
        // inline RECORDs (q69_batch_ingest asserts byte-identical output) —
        // batch rows just carry no message-level version/time_extracted.
        val raw =
          if (batchFiles.isEmpty) inline
          else inline.unionByName(
            spark.read.textFile(batchFiles: _*).toDF("record")
              .filter(length(trim(col("record"))) > 0)
              .select(col("record"),
                lit(null).cast("string").as("version"),
                lit(null).cast("string").as("te")))
        // non-record columns stamped alongside the parsed payload:
        //  - `_sdc_table_version` when the stream is version-stamped
        //    (full-table replication; ACTIVATE_VERSION purges by it —
        //    singer-sdk inherited semantics, reference target.py:51-52)
        //  - the singer-sdk `add_record_metadata` family when configured:
        //    extracted_at comes from the message (deterministic),
        //    received/batched/sync_started are wall-clock lineage stamps,
        //    and the sequence is an opaque per-load monotonic id (the SDK
        //    uses consumption-time epoch-millis — equally opaque)
        val extras = Seq.newBuilder[(String, org.apache.spark.sql.Column)]
        if (recs.versioned)
          extras += VersionPurge.SdcTableVersionCol -> col("version").cast("long")
        if (config.addRecordMetadata) {
          extras += "_sdc_extracted_at" -> col("te").cast("timestamp")
          extras += "_sdc_received_at" -> current_timestamp()
          extras += "_sdc_batched_at" -> current_timestamp()
          extras += "_sdc_sync_started_at" -> lit(syncStartedAt)
          extras += "_sdc_sequence" -> monotonically_increasing_id()
          extras += "_sdc_deleted_at" ->
            get_json_object(col("record"), "$._sdc_deleted_at").cast("timestamp")
        }
        val extraCols = extras.result()
        // a tap may DECLARE loader-stamped columns in its schema (log-based
        // taps declare _sdc_deleted_at); the stamp wins — drop the parsed
        // twin from the record expansion or the write dies on a duplicate
        // column name
        val stamped = extraCols.map(_._1).toSet
        val recordFields = nested.fieldNames.toSeq.filterNot(stamped)
          .map(f => col(s"r.`$f`").as(f))
        val parsed = raw
          .select(from_json(col("record"), nested,
            Map("mode" -> "FAILFAST")).as("r") +:
            extraCols.map { case (n, c) => c.as(n) }: _*)
          .select(recordFields ++ extraCols.map(p => col(p._1)): _*)
        val transformed = transform(parsed, sm.stream, config)
        // only a `__filter__` or BATCH files the driver has not counted can
        // leave the batch empty: the staged write then writes no file, and
        // only the append path pays an emptiness job
        val filtered =
          config.streamProperties(sm.stream).get(StreamMaps.FilterKey).flatten.isDefined
        (outStream, transformed, filtered || recs.n == 0)
      }
      // input streams aliased onto one output name write one batch; a
      // stream activated with no rows in this batch still purges
      val byOutput = writes.groupBy(_._1)
      val plans = (writes.map(_._1).distinct ++ activated.keys.toSeq.sorted).distinct.map { out =>
        val parts = byOutput.getOrElse(out, Nil)
        new ParquetSink(spark, config, out).plan(
          parts.map(_._2).reduceOption(_ unionByName _), activated.get(out),
          parts.exists(_._3))
      }
      ParquetSink.commit(spark, config, plans)

      // Singer-SDK-style per-stream record counters (inline RECORDs this
      // batch carried), read off the control pass — no extra Spark job
      (control.collect { case sm: SchemaMessage => sm.stream } ++
          records.keys).distinct.foreach { s =>
        Console.err.println(recordCountMetric(s, recordsOf(s).n))
      }

      LoadResult(schemas.keys.toSeq, lastState, acts, schemas.toMap)
    } finally routed.unpersist()
  }

  /** Per-stream inline RECORD facts from the control pass: how many, and
    * whether any carries a message-level `version` (full-table
    * replication). */
  private final case class StreamRecords(n: Long, versioned: Boolean)

  private val RecordType = UTF8String.fromString("RECORD")
  private val StateType = UTF8String.fromString("STATE")
  private val KnownTypes = Set(RecordType, StateType) ++
    Seq("SCHEMA", "ACTIVATE_VERSION", "BATCH").map(UTF8String.fromString)

  /** The routing parse: `json_tuple` extracts every routing field from a
    * SINGLE json parse per line (separate `get_json_object` calls would each
    * re-parse it); blank lines are dropped. The raw line is kept only where
    * the control plane reads it — every non-RECORD line and a RECORD
    * without a payload (its error quotes the line) — and is NULL for every
    * other RECORD, so the routed cache holds each record payload once. */
  private[graft] def route(lines: Dataset[String]): DataFrame =
    lines.toDF("value")
      .filter(octet_length(trim(col("value"))) > 0)
      .select(col("value"),
        json_tuple(col("value"), "type", "stream", "record", "version",
          "time_extracted"))
      .toDF("value", "t", "stream", "record", "version", "te")
      .withColumn("value",
        when(col("t") === "RECORD" && col("record").isNotNull, lit(null).cast("string"))
          .otherwise(col("value")))

  /** One (`kind`, `key`) group of the control plane:
    *  - `untyped` / `null_record` (key NULL) and `unknown` (key = the type):
    *    protocol violations, carried with an example line;
    *  - `record` (key = stream): per-stream count and whether any RECORD
    *    carries a `version`;
    *  - `state` (key NULL): the LAST STATE in input order;
    *  - `control` (key = the line): SCHEMA / ACTIVATE_VERSION / BATCH as
    *    DISTINCT lines with their first position (a tap re-emitting its
    *    SCHEMA before every record collapses to one group; in-batch conflict
    *    detection needs exactly the distinct set).
    * `ord` and `lastOrd` are the group's first and last position, `last` the
    * line at `lastOrd` (NULL for `record`: records never need their line
    * back), `n` its line count. */
  private[graft] final case class ControlGroup(kind: String, key: String,
      ord: Long, lastOrd: Long, last: String, n: Long, versioned: Boolean) {
    def merge(o: ControlGroup): ControlGroup = {
      val later = if (o.lastOrd > lastOrd) o else this
      ControlGroup(kind, key, math.min(ord, o.ord), later.lastOrd, later.last,
        n + o.n, versioned || o.versioned)
    }
  }

  /** The whole control plane as ONE Spark job over the routed lines: each
    * partition folds its rows into [[ControlGroup]]s, and the driver merges
    * the partial groups. A line's position is `partition << 33 | row`, the
    * order `monotonically_increasing_id` gives, which already defines this
    * batch's "last STATE wins" (see the ordering note in the class doc).
    * No exchange and no sort: over the persisted routed frame the job's own
    * tasks build the cache. A tap may emit STATE after every record (some
    * do), so collecting control lines verbatim could OOM the driver on a
    * large replay; every partition returns, and the result holds, #streams +
    * #distinct control lines + a few groups, independent of input length.
    * Sorted by first position. */
  private[graft] def controlPass(routed: DataFrame): Seq[ControlGroup] = {
    val cols = Seq("value", "t", "stream", "record", "version").map(routed.schema.fieldIndex)
    routed.queryExecution.toRdd
      .mapPartitionsWithIndex((part, rows) =>
        Iterator.single(SingerLoader.foldControl(part, rows, cols)))
      .collect().toSeq.flatten
      .groupBy(g => (g.kind, g.key)).values.map(_.reduce(_ merge _))
      .toSeq.sortBy(_.ord)
  }

  /** One partition's share of [[controlPass]]; `cols` are the positions of
    * `value`, `t`, `stream`, `record` and `version`. Rows are reused by the
    * scan, so every kept string is copied. */
  private def foldControl(part: Int, rows: Iterator[InternalRow],
      cols: Seq[Int]): Array[ControlGroup] = {
    val Seq(value, t, stream, record, version) = cols
    def str(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i)
    final class Acc(val ord: Long) {
      var lastOrd = ord
      var last: UTF8String = null
      var n = 0L
      var versioned = false
    }
    val groups = new java.util.HashMap[(String, UTF8String), Acc]()
    var ord = part.toLong << 33
    rows.foreach { r =>
      val ty = str(r, t)
      val (kind, key) =
        if (ty == null) ("untyped", null)
        else if (ty == RecordType && r.isNullAt(record)) ("null_record", null)
        else if (!KnownTypes(ty)) ("unknown", ty)
        else if (ty == RecordType) ("record", str(r, stream))
        else if (ty == StateType) ("state", null)
        else ("control", str(r, value))
      var g = groups.get((kind, key))
      if (g == null) {
        val k = if (key == null) null else key.clone()
        g = new Acc(ord)
        if (kind == "control") g.last = k
        groups.put((kind, k), g)
      }
      g.lastOrd = ord
      if (kind != "record" && kind != "control") g.last = str(r, value).clone()
      g.n += 1
      g.versioned ||= !r.isNullAt(version)
      ord += 1
    }
    groups.asScala.map { case ((kind, key), g) =>
      ControlGroup(kind, Option(key).map(_.toString).orNull, g.ord, g.lastOrd,
        Option(g.last).map(_.toString).orNull, g.n, g.versioned)
    }.toArray
  }

  /** JSON-Schema record violations (singer-sdk parity, reference standard
    * suite tests/test_core.py:26-33): every RECORD must *contain* each
    * `required` property (present-but-null is valid when the type union
    * admits "null" — `json_object_keys` gives exact presence semantics,
    * where a post-parse NULL check could not tell missing from null), and
    * every `key_properties` column must be non-NULL (it is the primary
    * key). ONE Spark job over the persisted routed cache covers every
    * constrained stream: Catalyst keeps the violating RECORDs, each
    * partition folds them per stream into a count and its byte-wise largest
    * record (the example `max` would pick), and the driver merges the
    * partials. Streams that declare no constraints are not scanned, and with
    * none the job is skipped. Only streams with a violation are returned. */
  private[graft] def violations(routed: DataFrame,
      streams: Seq[SchemaMessage]): Map[String, (Long, String)] = {
    val checks = streams.flatMap { sm =>
      val violations =
        JsonSchemaConverter.requiredFields(sm.schemaJson).map(f =>
          !array_contains(expr("json_object_keys(record)"), lit(f))) ++
        sm.keyProperties.map(k => get_json_object(col("record"), s"$$['$k']").isNull)
      violations.reduceOption(_ || _).map(sm.stream -> _)
    }
    if (checks.isEmpty) return Map.empty
    val bad = checks.tail.foldLeft(when(col("stream") === checks.head._1, checks.head._2)) {
      case (acc, (s, b)) => acc.when(col("stream") === s, b)
    }
    def larger(a: String, b: String) =
      if (b == null || (a != null &&
          UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) >= 0)) a
      else b
    routed
      .filter(col("t") === "RECORD" && col("stream").isin(checks.map(_._1): _*) && bad)
      .select(col("stream"), col("record"))
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(SingerLoader.foldViolations(rows)))
      .collect().toSeq.flatten
      .groupMapReduce(_._1)(v => (v._2, v._3)) { case ((n, a), (m, b)) => (n + m, larger(a, b)) }
  }

  /** One partition's share of [[violations]]: per stream, the count of its
    * violating `(stream, record)` rows and the byte-wise largest record. */
  private def foldViolations(rows: Iterator[InternalRow]): Array[(String, Long, String)] = {
    final class Acc(var n: Long, var max: UTF8String)
    val found = new java.util.HashMap[UTF8String, Acc]()
    rows.foreach { r =>
      var acc = found.get(r.getUTF8String(0))
      if (acc == null) {
        acc = new Acc(0L, null)
        found.put(r.getUTF8String(0).clone(), acc)
      }
      acc.n += 1
      // a RECORD without a payload counts, as `count` counted it, but is
      // no example, as `max` skips NULLs
      if (!r.isNullAt(1) && (acc.max == null || r.getUTF8String(1).binaryCompare(acc.max) > 0))
        acc.max = r.getUTF8String(1).clone()
    }
    found.asScala.map { case (s, acc) =>
      (s.toString, acc.n, Option(acc.max).map(_.toString).orNull)
    }.toArray
  }

  /** Raises on the first stream (in `streams` order) with a record that
    * violates its declared schema; see [[violations]]. */
  private def validate(routed: DataFrame, streams: Seq[SchemaMessage]): Unit = {
    val found = violations(routed, streams)
    streams.foreach { sm =>
      found.get(sm.stream).foreach { case (n, example) =>
        val required = JsonSchemaConverter.requiredFields(sm.schemaJson)
        throw new RecordValidationException(
          s"stream '${sm.stream}': $n record(s) violate the " +
            s"declared schema (required: ${required.mkString(",")}; " +
            s"key_properties: ${sm.keyProperties.mkString(",")}); " +
            s"example: ${Option(example).getOrElse("").take(300)}")
      }
    }
  }

  /** singer-sdk 0.35's `record_count` counter line (its metrics logger's
    * `METRIC: <json>` shape, `json.dumps` spacing). */
  private def recordCountMetric(stream: String, n: Long): String = {
    val quoted = new String(
      com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance().quoteAsString(stream))
    s"""METRIC: {"type": "counter", "metric": "record_count", "value": $n, "tags": {"stream": "$quoted"}}"""
  }

  /** The per-stream projection pipeline: flatten → stream maps → extra
    * fields. Pure `select`s — Catalyst prunes/pushes through it. */
  def transform(records: DataFrame, stream: String,
      config: GraftConfig): DataFrame = {
    val flat = Flattener.flatten(records, config.flatteningMaxDepth)
    val props = config.streamProperties(stream)
    val mapped = if (props.nonEmpty) StreamMaps(flat, props) else flat
    config.parsedExtraFields.foldLeft(mapped) {
      case (df, (k, v, "integer")) => df.withColumn(k, lit(v.toLong))
      case (df, (k, v, _))         => df.withColumn(k, lit(v))
    }
  }
}
