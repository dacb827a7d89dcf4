package graft.loader

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.schema.{Flattener, JsonSchemaConverter}

/** The Singer → partitioned-parquet dataflow, Spark-first (reference
  * pipeline: target_hdfs/target.py + sinks.py; see SURVEY §3.1).
  *
  * Control plane (SCHEMA / STATE / ACTIVATE_VERSION / BATCH — a handful
  * of lines) is reduced by ONE grouped aggregate ([[controlPass]]) and
  * parsed on the driver; the same pass yields the protocol checks and each
  * stream's record count, which decide the rest of the sync without further
  * Spark actions (no emptiness probes for streams the pass counted,
  * `METRIC` record counters on stderr). Record validation then runs as one
  * aggregate over every constrained stream before any stream is written.
  * The record plane never leaves the executors: records are routed by
  * `json_tuple` on the raw line (one parse pass, persisted so the
  * per-stream writes re-read the routed cache instead of rescanning raw
  * input), parsed with `from_json` against the stream's converted
  * `StructType`, flattened and projected as pure Catalyst expressions, and
  * written by the parquet writer. No per-record driver loop anywhere:
  * parallelism is the number of input splits, and the only shuffles are the
  * two small aggregates and the optional repartition by `partition_cols`.
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
    try {
      // ---- control plane: ONE grouped aggregate, ONE bounded collect ----
      val pass = controlPass(routed).collect()
      def rows(kind: String) = pass.filter(_.getAs[String]("kind") == kind)
      rows("untyped").headOption.foreach(r => throw new InvalidConfigException(
        s"line without a Singer 'type': ${r.getAs[String]("last").take(200)}"))
      rows("null_record").headOption.foreach(r => throw new InvalidConfigException(
        s"RECORD message without a record payload: ${r.getAs[String]("last").take(200)}"))
      rows("unknown").headOption.foreach(r => throw new InvalidConfigException(
        s"unknown Singer message type: ${r.getAs[String]("key")}"))
      // SCHEMA / ACTIVATE_VERSION / BATCH as first-seen distinct lines in
      // input order, then the single last STATE
      val control = (rows("control").sortBy(_.getAs[Long]("ord")) ++ rows("state"))
        .map(r => SingerMessage.parse(r.getAs[String]("last")))
      val records = rows("record").map(r => r.getAs[String]("key") ->
        StreamRecords(r.getAs[Long]("n"), r.getAs[Boolean]("versioned"),
          Option(r.getAs[java.lang.Long]("max_version")).map(_.longValue))).toMap

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
        records.getOrElse(stream, StreamRecords(0L, versioned = false, None))

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

      // ---- record plane: fully distributed per stream ----
      // the version each stream's just-committed rows are known to reach,
      // which lets ACTIVATE_VERSION skip its emptiness job
      val committedVersion = scala.collection.mutable.Map.empty[String, Long]
      toWrite.foreach { case (sm, outStream, recs, batchFiles) =>
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
        // only a `__filter__` or BATCH files the driver has not counted
        // can leave the batch empty; those pay one emptiness job
        val filtered =
          config.streamProperties(sm.stream).get(StreamMaps.FilterKey).flatten.isDefined
        if (!((filtered || recs.n == 0) && transformed.isEmpty)) {
          new ParquetSink(spark, config, outStream, transformed.schema)
            .write(transformed)
          if (!filtered) recs.maxVersion.foreach(committedVersion(outStream) = _)
        }
      }

      // ACTIVATE_VERSION: after the batch's records are committed, purge
      // rows of superseded versions from each activated stream dir —
      // resolved through the same stream-level maps (an aliased stream's
      // data lives under its output name; a suppressed stream has none)
      val acts = activates.result()
      acts.foreach { av =>
        config.resolveStream(av.stream).foreach(out =>
          VersionPurge.activate(spark, config, out, av.version,
            committedVersion.get(out)))
      }

      // Singer-SDK-style per-stream record counters (inline RECORDs this
      // batch carried), read off the control pass — no extra Spark job
      (control.collect { case sm: SchemaMessage => sm.stream } ++
          records.keys).distinct.foreach { s =>
        Console.err.println(recordCountMetric(s, recordsOf(s).n))
      }

      LoadResult(schemas.keys.toSeq, lastState, acts, schemas.toMap)
    } finally routed.unpersist()
  }

  /** Per-stream inline RECORD facts from the control pass: how many, whether
    * any carries a message-level `version` (full-table replication), and the
    * largest such version. */
  private final case class StreamRecords(n: Long, versioned: Boolean,
      maxVersion: Option[Long])

  private val KnownTypes = Seq("RECORD", "SCHEMA", "STATE", "ACTIVATE_VERSION", "BATCH")

  /** The routing parse: `json_tuple` extracts every routing field from a
    * SINGLE json parse per line (separate `get_json_object` calls would each
    * re-parse it); blank lines are dropped. */
  private[graft] def route(lines: Dataset[String]): DataFrame =
    lines.toDF("value")
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"),
        json_tuple(col("value"), "type", "stream", "record", "version",
          "time_extracted"))
      .toDF("value", "t", "stream", "record", "version", "te")

  /** The whole control plane as ONE grouped aggregate over the routed lines,
    * grouped by (`kind`, `key`):
    *  - `untyped` / `null_record` (key NULL) and `unknown` (key = the type):
    *    protocol violations, carried with an example line;
    *  - `record` (key = stream): per-stream count, whether any RECORD carries
    *    a `version`, and the largest version;
    *  - `state` (key NULL): the LAST STATE in input order —
    *    `monotonically_increasing_id` follows the partition order that
    *    already defines this batch's "last STATE wins" semantics (see the
    *    ordering note in the class doc);
    *  - `control` (key = the line): SCHEMA / ACTIVATE_VERSION / BATCH as
    *    DISTINCT lines with their first position (a tap re-emitting its
    *    SCHEMA before every record collapses to one row; in-batch conflict
    *    detection needs exactly the distinct set).
    * A tap may emit STATE after every record (some do), so collecting
    * control lines verbatim could OOM the driver on a large replay; this
    * collect holds #streams + #distinct control lines + a few rows,
    * independent of input length. */
  private[graft] def controlPass(routed: DataFrame): DataFrame = {
    val t = col("t")
    val kind =
      when(t.isNull, "untyped")
        .when(t === "RECORD" && col("record").isNull, "null_record")
        .when(!t.isin(KnownTypes: _*), "unknown")
        .when(t === "RECORD", "record")
        .when(t === "STATE", "state")
        .otherwise("control")
    routed
      .select(kind.as("kind"), col("value"), col("stream"), t, col("version"),
        monotonically_increasing_id().as("ord"))
      .groupBy(col("kind"),
        when(col("kind") === "record", col("stream"))
          .when(col("kind") === "control", col("value"))
          .when(col("kind") === "unknown", t).as("key"))
      .agg(
        min(col("ord")).as("ord"),
        // records never need their line back: keep it out of the collect
        max_by(when(col("kind") =!= "record", col("value")), col("ord")).as("last"),
        count(lit(1)).as("n"),
        max(col("version").isNotNull).as("versioned"),
        max(expr("try_cast(version AS BIGINT)")).as("max_version"))
  }

  /** JSON-Schema record validation (singer-sdk parity, reference standard
    * suite tests/test_core.py:26-33): every RECORD must *contain* each
    * `required` property (present-but-null is valid when the type union
    * admits "null" — `json_object_keys` gives exact presence semantics,
    * where a post-parse NULL check could not tell missing from null), and
    * every `key_properties` column must be non-NULL (it is the primary
    * key). One counting aggregation, grouped by stream, over the persisted
    * routed cache covers every constrained stream; streams that declare no
    * constraints are not scanned, and with none the job is skipped. */
  private def validate(routed: DataFrame, streams: Seq[SchemaMessage]): Unit = {
    val checks = streams.flatMap { sm =>
      val required = JsonSchemaConverter.requiredFields(sm.schemaJson)
      val violations =
        required.map(f =>
          !array_contains(expr("json_object_keys(record)"), lit(f))) ++
        sm.keyProperties.map(k => get_json_object(col("record"), s"$$['$k']").isNull)
      violations.reduceOption(_ || _).map(bad => (sm, required, bad))
    }
    if (checks.isEmpty) return
    val bad = checks.tail.foldLeft(
      when(col("stream") === checks.head._1.stream, checks.head._3)) {
      case (acc, (sm, _, b)) => acc.when(col("stream") === sm.stream, b)
    }
    val found = routed
      .filter(col("t") === "RECORD" && col("stream").isin(checks.map(_._1.stream): _*))
      .groupBy(col("stream"))
      .agg(count(when(bad, 1)).as("n"), max(when(bad, col("record"))).as("example"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    checks.foreach { case (sm, required, _) =>
      found.get(sm.stream).filter(_._1 > 0).foreach { case (n, example) =>
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
