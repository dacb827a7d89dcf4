package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.core.{GraftConfig, StreamMapSpec}
import graft.loader.SingerLoader

/** End-to-end loader tests over the FIXTURES.md Singer messages. */
class LoaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def tmpDir(): String = Files.createTempDirectory("graft-loader").toString

  val fixture = Seq(
    """{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": {"col1": {"type": ["integer", "null"]}, "col2": {"type": ["string", "null"]}, "col3": {"type": ["boolean", "null"]}}}, "key_properties": ["col1"]}""",
    """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}}""",
    """{"type": "RECORD", "stream": "t", "record": {"col1": 2, "col2": "b", "col3": false}}""",
    """{"type": "RECORD", "stream": "t", "record": {"col1": 3, "col2": "c", "col3": true}}""",
    """{"type": "STATE", "value": {"bookmarks": {"t": {"replication_key_value": 3}}}}""")

  def writeFixture(lines: Seq[String]): String = {
    val f = Files.createTempFile("singer", ".jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("canonical 3-column stream loads with typed schema and state") {
    val out = tmpDir()
    val result = SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out))
    assert(result.streams === Seq("t"))
    assert(result.lastState.exists(_.contains("replication_key_value")))
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() === 3)
    assert(back.schema === StructType(Seq(
      StructField("col1", LongType), StructField("col2", StringType),
      StructField("col3", BooleanType))))
  }

  test("nested records are flattened; arrays JSON-stringified") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      """{"type": "SCHEMA", "stream": "n", "schema": {"type": "object", "properties": {"id": {"type": "integer"}, "user": {"type": "object", "properties": {"name": {"type": "string"}, "address": {"type": "object", "properties": {"city": {"type": "string"}}}}}, "tags": {"type": "array", "items": {"type": "string"}}}}, "key_properties": ["id"]}""",
      """{"type": "RECORD", "stream": "n", "record": {"id": 1, "user": {"name": "ann", "address": {"city": "lisbon"}}, "tags": ["x", "y"]}}""")),
      GraftConfig(hdfsDestinationPath = out))
    val back = spark.read.parquet(s"$out/n")
    assert(back.columns.toSeq === Seq("id", "user__name", "user__address__city", "tags"))
    assert(back.collect().head.getString(3) === """["x","y"]""")
  }

  test("extra fields are appended with declared types") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out,
        extraFields = Some("source=fixture,run=7"),
        extraFieldsTypes = Some("source=string,run=integer")))
    val back = spark.read.parquet(s"$out/t")
    assert(back.schema("run").dataType === LongType)
    assert(back.select("source").distinct().collect().head.getString(0) === "fixture")
  }

  test("partition_cols produces hive layout") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out, partitionCols = Seq("col3")))
    val dirs = new java.io.File(s"$out/t").listFiles().map(_.getName).filter(_.startsWith("col3="))
    assert(dirs.toSet === Set("col3=true", "col3=false"))
  }

  test("stream maps rename/derive/drop/filter") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out,
        streamMaps = Map("t" -> StreamMapSpec.Properties(Map(
          "__filter__" -> Some("col1 > 1"),
          "doubled" -> Some("col1 * 2"),
          "col2" -> None)))))
    val back = spark.read.parquet(s"$out/t")
    assert(back.columns.toSeq.sorted === Seq("col1", "col3", "doubled"))
    assert(back.count() === 2)
    assert(back.selectExpr("sum(doubled)").collect().head.getLong(0) === 10L)
  }

  test("stream-level maps: alias renames, __NULL__ suppresses, __else__ drops unmapped") {
    // singer-sdk stream-level grammar: "old": "new" aliases a stream,
    // "name": "__NULL__" drops it, "__else__": "__NULL__" drops every
    // stream not otherwise mapped
    val two = Seq(
      """{"type": "SCHEMA", "stream": "keepme", "schema": {"type": "object", "properties": {"id": {"type": "integer"}}}, "key_properties": ["id"]}""",
      """{"type": "SCHEMA", "stream": "dropme", "schema": {"type": "object", "properties": {"id": {"type": "integer"}}}, "key_properties": ["id"]}""",
      """{"type": "RECORD", "stream": "keepme", "record": {"id": 1}}""",
      """{"type": "RECORD", "stream": "dropme", "record": {"id": 2}}""")
    // alias: records write under the NEW name, nothing under the old
    val out1 = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(two),
      GraftConfig(hdfsDestinationPath = out1,
        streamMaps = Map("keepme" -> StreamMapSpec.Alias("renamed"))))
    assert(spark.read.parquet(s"$out1/renamed").count() === 1)
    assert(!new java.io.File(s"$out1/keepme").exists())
    assert(spark.read.parquet(s"$out1/dropme").count() === 1) // unmapped passes
    // suppression: the stream writes nothing at all
    val out2 = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(two),
      GraftConfig(hdfsDestinationPath = out2,
        streamMaps = Map("dropme" -> StreamMapSpec.Suppress)))
    assert(spark.read.parquet(s"$out2/keepme").count() === 1)
    assert(!new java.io.File(s"$out2/dropme").exists())
    // __else__: __NULL__ drops every unmapped stream, keeps the mapped one
    val out3 = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(two),
      GraftConfig(hdfsDestinationPath = out3,
        streamMaps = Map(
          "keepme" -> StreamMapSpec.Properties(Map("doubled" -> Some("id * 2"))),
          GraftConfig.ElseKey -> StreamMapSpec.Suppress)))
    assert(spark.read.parquet(s"$out3/keepme").columns.toSeq.sorted
      === Seq("doubled", "id"))
    assert(!new java.io.File(s"$out3/dropme").exists())
    // config-JSON spellings parse to the same specs
    val parsed = GraftConfig.fromJson(
      """{"hdfs_destination_path": "/out", "stream_maps": {
        |"a": "b", "c": "__NULL__", "d": null, "__else__": "__NULL__"}}""".stripMargin)
    assert(parsed.streamMaps === Map(
      "a" -> StreamMapSpec.Alias("b"),
      "c" -> StreamMapSpec.Suppress,
      "d" -> StreamMapSpec.Suppress,
      "__else__" -> StreamMapSpec.Suppress))
    assert(parsed.resolveStream("a") === Some("b"))
    assert(parsed.resolveStream("c") === None)
    assert(parsed.resolveStream("unmapped") === None)
    // __alias__ inside a property map renames AND transforms
    val withAlias = GraftConfig(hdfsDestinationPath = "/out",
      streamMaps = Map("s" -> StreamMapSpec.Properties(
        Map("__alias__" -> Some("t"), "x" -> None))))
    assert(withAlias.resolveStream("s") === Some("t"))
    assert(withAlias.streamProperties("s") === Map("x" -> None))
    // __else__ only supports suppression
    intercept[graft.core.InvalidConfigException](GraftConfig.fromJson(
      """{"hdfs_destination_path": "/o", "stream_maps": {"__else__": "x"}}"""))
  }

  test("python-dialect stream maps match their SQL-dialect equivalents") {
    // the simpleeval shim (SURVEY §2A stream-maps, singer-sdk dialect):
    // a meltano config written against the reference must produce the same
    // output as the engine's native SQL dialect
    def load(maps: Map[String, Option[String]]): Map[Long, (String, Boolean)] = {
      val out = tmpDir()
      SingerLoader.loadFile(spark, writeFixture(fixture),
        GraftConfig(hdfsDestinationPath = out,
          streamMaps = Map("t" -> StreamMapSpec.Properties(maps))))
      spark.read.parquet(s"$out/t")
        .select("col1", "tagged", "flag").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    }
    val py = load(Map(
      "__filter__" -> Some("record['col1'] != 2"),
      // string concat via +, conditional via infix if/else, None/True
      "tagged" -> Some("record['col2'] + '!' if record['col1'] == 1 else str(record['col1'])"),
      "flag" -> Some("True if record['col3'] else False")))
    val sql = load(Map(
      "__filter__" -> Some("col1 <> 2"),
      "tagged" -> Some("IF(col1 = 1, CONCAT(col2, '!'), CAST(col1 AS STRING))"),
      "flag" -> Some("IF(col3, TRUE, FALSE)")))
    assert(py === sql)
    assert(py === Map(1L -> ("a!", true), 3L -> ("3", true)))
  }

  test("simpleeval shim: translation forms and passthrough") {
    import graft.loader.SimpleEvalShim.{maybeTranslate, translate}
    def norm(s: String) = translate(s).replaceAll("\\s+", "")
    // rename/copy
    assert(translate("record['user name']") === "`user name`")
    // concat folds the whole + chain; numeric + stays arithmetic
    assert(norm("record['a'] + '-' + record['b']") === "CONCAT(`a`,'-',`b`)")
    assert(norm("record['a'] + record['b']") === "`a`+`b`")
    // nested conditional (right-associative), comparisons, None
    assert(norm("'lo' if record['n'] < 10 else 'hi' if record['n'] < 100 else None")
      === "IF(`n`<10,'lo',IF(`n`<100,'hi',NULL))")
    // casts
    assert(norm("int(record['x']) + 1") === "CAST(`x`ASBIGINT)+1")
    // SQL stays SQL
    assert(maybeTranslate("concat(col2, '!')") === "concat(col2, '!')")
    assert(maybeTranslate("IF(col1 = 1, 'x', 'y')") === "IF(col1 = 1, 'x', 'y')")
    // a + chain NEVER crosses a comparison (python precedence: + binds
    // tighter than ==)
    assert(norm("record['a'] + 'x' == record['b']") === "CONCAT(`a`,'x')=`b`")
    // `==` alone is not a dialect marker (Spark SQL accepts it): anything
    // that parses as Spark SQL passes through untouched, including the
    // constructs a forced translation used to break — lowercase is/in,
    // case…else…end, ||-concat, + with a string literal
    assert(maybeTranslate("if(col1 == 2, 'x', 'y')")
      === "if(col1 == 2, 'x', 'y')")
    assert(maybeTranslate("col1 == 1 or col2 is not null")
      === "col1 == 1 or col2 is not null")
    assert(maybeTranslate("col1 == 1 and col1 in (1, 2)")
      === "col1 == 1 and col1 in (1, 2)")
    assert(maybeTranslate("case when col1 == 1 then 'x' else 'y' end")
      === "case when col1 == 1 then 'x' else 'y' end")
    assert(maybeTranslate("col2 || '!' == 'a!'") === "col2 || '!' == 'a!'")
    // …but a str() cast is python's spelling (Spark's is string()), so it
    // still translates even though `==` alone would not fire
    assert(maybeTranslate("str(col1) == '1'").replaceAll("\\s+", "")
      === "CAST(col1ASSTRING)='1'")
    // strong python markers still translate without consulting the parser
    assert(maybeTranslate("record['a'] == None") === "`a` = NULL")
    // a `+` on a string literal inside the `==` zone is python concat —
    // the same text parses as Spark SQL (numeric + over a cast string,
    // silently NULL), so the marker outranks parseability
    assert(maybeTranslate("name + '!' == 'bob!'").replaceAll("\\s+", "")
      === "CONCAT(name,'!')='bob!'")
    // …but numeric strings and typed literals next to `+` stay SQL
    assert(maybeTranslate("total + '10' == 20") === "total + '10' == 20")
    assert(maybeTranslate("d == date '2024-01-01' + interval 1 day")
      === "d == date '2024-01-01' + interval 1 day")
    // schema-informed concat: two string FIELDS with no literal operand
    assert(translate("record['first'] + record['last']",
        stringCols = Set("first", "last")).replaceAll("\\s+", "")
      === "CONCAT(`first`,`last`)")
    // ...and without schema knowledge the chain stays arithmetic
    assert(translate("record['first'] + record['last']")
      .replaceAll("\\s+", "") === "`first`+`last`")
    // unsupported constructs fail loudly instead of mis-translating
    assertThrows[IllegalArgumentException](translate("[x for x in record]"))
    assertThrows[IllegalArgumentException](translate("record.pop('a')"))
  }

  test("simpleeval shim: every translation parses as Spark SQL and is a fixpoint") {
    import graft.loader.SimpleEvalShim.{maybeTranslate, translate}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // structured generator over the supported subset: record access,
    // string/num literals (incl. quotes needing escapes), + chains,
    // comparisons, nested conditionals
    val ident = Gen.oneOf("a", "col1", "user name", "x_y")
    val strLit = Gen.oneOf("!", "-", "hi there", "it's", "a\\b")
      .map(s => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    val atom = Gen.oneOf(
      ident.map(i => s"record['$i']"),
      strLit,
      Gen.choose(0, 999).map(_.toString))
    val chain = for { a <- atom; b <- atom; c <- atom }
      yield s"$a + $b + $c"
    val cmp = for { a <- atom; b <- atom;
        op <- Gen.oneOf("==", "!=", "<", ">=") } yield s"$a $op $b"
    val ternary = for { a <- Gen.oneOf(atom, chain); c <- cmp;
        b <- atom } yield s"$a if $c else $b"
    val nested = for { t <- ternary; c <- cmp; b <- atom }
      yield s"$t if $c else $b"
    val anyExpr = Gen.oneOf(atom, chain, cmp, ternary, nested)
    val parser = spark.sessionState.sqlParser
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(anyExpr) { e =>
        val sql = translate(e)
        parser.parseExpression(sql)   // throws on unparseable output
        // translated output carries no python markers left to re-fire on
        maybeTranslate(sql) == sql
      })
    assert(res.passed, res.status.toString)
  }

  test("driver documents table round-trips through the Singer pipeline") {
    // FIXTURES.md §2: dump a real testdata table as Singer JSONL (inline
    // SCHEMA + one RECORD per row), ingest it, compare to the direct read
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val schema =
      """{"type": "SCHEMA", "stream": "documents", "schema": {"type": "object", "properties": {
        |"doc_id": {"type": ["integer", "null"]}, "text": {"type": ["string", "null"]},
        |"lang": {"type": ["string", "null"]}, "source": {"type": ["string", "null"]},
        |"n_chars": {"type": ["integer", "null"]}}}}""".stripMargin.replaceAll("\n", "")
    val records = docs.toJSON.collect().map(r =>
      s"""{"type": "RECORD", "stream": "documents", "record": $r}""")
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(schema +: records.toSeq),
      GraftConfig(hdfsDestinationPath = out))
    val back = spark.read.parquet(s"$out/documents")
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
    assert(back.except(docs).count() === 0)
    assert(docs.except(back).count() === 0)
  }

  test("max_records_per_file splits partitioned output files") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out, partitionCols = Seq("col3"),
        maxRecordsPerFile = 1))
    // col3=true holds 2 rows -> must split into 2 files
    val files = new java.io.File(s"$out/t/col3=true").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 2)
  }

  test("max_records_per_file splits non-partitioned fresh flushes too") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true,
        maxRecordsPerFile = 1))
    val dir = new java.io.File(s"$out/t")
    val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, "file-sizing must apply to the fresh-flush path")
    // and the data still round-trips
    assert(spark.read.parquet(dir.toString).count() === 3)
  }

  test("schema-only stream loads cleanly and writes nothing") {
    val out = tmpDir()
    val result = SingerLoader.loadFile(spark, writeFixture(Seq(
      """{"type": "SCHEMA", "stream": "empty", "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}}""")),
      GraftConfig(hdfsDestinationPath = out))
    assert(result.streams === Seq("empty"))
    assert(!new java.io.File(s"$out/empty").exists())
  }

  test("records before any schema raise a protocol error") {
    val out = tmpDir()
    intercept[graft.core.InvalidConfigException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        """{"type": "RECORD", "stream": "ghost", "record": {"x": 1}}""")),
        GraftConfig(hdfsDestinationPath = out))
    }
  }

  val requiredSchema =
    """{"type": "SCHEMA", "stream": "r", "schema": {"type": "object", "required": ["id", "name"], "properties": {"id": {"type": "integer"}, "name": {"type": ["string", "null"]}}}, "key_properties": ["id"]}"""

  test("record missing a required property raises") {
    val ex = intercept[graft.core.RecordValidationException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        requiredSchema,
        """{"type": "RECORD", "stream": "r", "record": {"id": 1, "name": "ok"}}""",
        """{"type": "RECORD", "stream": "r", "record": {"id": 2}}""")),
        GraftConfig(hdfsDestinationPath = tmpDir()))
    }
    assert(ex.getMessage.contains("1 record(s)"))
  }

  test("empty record {} for a stream with required keys raises, not all-NULL load") {
    intercept[graft.core.RecordValidationException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        requiredSchema,
        """{"type": "RECORD", "stream": "r", "record": {}}""")),
        GraftConfig(hdfsDestinationPath = tmpDir()))
    }
  }

  test("required property present-but-null is valid when type admits null") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      requiredSchema,
      """{"type": "RECORD", "stream": "r", "record": {"id": 1, "name": null}}""")),
      GraftConfig(hdfsDestinationPath = out))
    assert(spark.read.parquet(s"$out/r").count() === 1)
  }

  test("NULL key property raises even without a required list") {
    intercept[graft.core.RecordValidationException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        fixture.head, // key_properties: ["col1"], no required
        """{"type": "RECORD", "stream": "t", "record": {"col1": null, "col2": "x", "col3": true}}""")),
        GraftConfig(hdfsDestinationPath = tmpDir()))
    }
  }

  test("validate_records=false loads constraint-violating batches untouched") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      requiredSchema,
      """{"type": "RECORD", "stream": "r", "record": {"id": 2}}""")),
      GraftConfig(hdfsDestinationPath = out, validateRecords = false))
    assert(spark.read.parquet(s"$out/r").count() === 1)
  }

  val versionedSchema =
    """{"type": "SCHEMA", "stream": "v", "schema": {"type": "object", "properties": {"id": {"type": "integer"}}}, "key_properties": ["id"]}"""

  test("ACTIVATE_VERSION purges rows of superseded table versions") {
    val out = tmpDir()
    // full-table sync #1: version 1
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1}, "version": 1}""",
      """{"type": "RECORD", "stream": "v", "record": {"id": 2}, "version": 1}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 1}""")),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true))
    assert(spark.read.parquet(s"$out/v").count() === 2)
    // full-table sync #2: version 2 re-syncs only id=2; activate drops v1 rows
    val result = SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 2}, "version": 2}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true))
    assert(result.activateVersions.map(_.version) === Seq(2L))
    val back = spark.read.parquet(s"$out/v")
    assert(back.count() === 1)
    assert(back.select("id").collect().head.getLong(0) === 2L)
    assert(back.columns.contains("_sdc_table_version"))
  }

  test("versioned then unversioned batches compact without tripping the schema gate") {
    val out = tmpDir()
    // sync #1 is versioned (stamps _sdc_table_version); compaction ENABLED
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1}, "version": 1}""")),
      GraftConfig(hdfsDestinationPath = out))
    // sync #2 has no message-level versions (tap switched full-table ->
    // incremental): the compaction preload must not read the internal stamp
    // column as schema drift, and the union must NULL-fill it
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 2}}""")),
      GraftConfig(hdfsDestinationPath = out))
    val back = spark.read.parquet(s"$out/v").orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(back(0).getLong(1) === 1L)    // stamped in sync #1
    assert(back(1).isNullAt(1))          // never versioned -> NULL stamp
  }

  test("ACTIVATE_VERSION that purges every row removes the stream dir cleanly") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1}, "version": 1}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 1}""")),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true))
    // version 2 re-syncs nothing: the keep-set is empty, so the dir must be
    // removed (not committed with zero data files, which breaks later reads)
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true))
    assert(!new java.io.File(s"$out/v").exists())
    // and the stream loads fresh afterwards
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 3}, "version": 3}""")),
      GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true))
    assert(spark.read.parquet(s"$out/v").count() === 1)
  }

  val namedSchema =
    """{"type": "SCHEMA", "stream": "v", "schema": {"type": "object", "properties": {"id": {"type": "integer"}, "name": {"type": ["string", "null"]}, "flag": {"type": ["boolean", "null"]}}}, "key_properties": ["id"]}"""

  test("purge over a pre-versioned and a stamped file, then the next preload passes the schema gate") {
    val out = tmpDir()
    val fresh = GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true)
    // a file written before versioned replication began (no stamp column)
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1, "name": "a", "flag": true}}""")),
      fresh)
    // a stamped v1 file
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 2, "name": "b", "flag": false}, "version": 1}""")),
      fresh)
    // the footers merge as Spark's mergeSchema inference does (which reads
    // every column as nullable)
    def fields(st: StructType) = st.map(f => (f.name, f.dataType))
    assert(graft.core.ParquetFooter.mergedSchema(spark, s"$out/v").map(fields) ===
      Some(fields(spark.read.option("mergeSchema", "true").parquet(s"$out/v").schema)))
    // v2 supersedes v1: the unstamped row and the v2 row survive
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 3, "name": "c", "flag": null}, "version": 2}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")),
      fresh)
    assert(spark.read.parquet(s"$out/v").select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq === Seq(1L, 3L))
    // next sync, compaction on: the preload of the purged file must pass the
    // strict gate (same columns, same order) and union with the new rows
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 4, "name": "d", "flag": true}}""")),
      GraftConfig(hdfsDestinationPath = out))
    val back = spark.read.parquet(s"$out/v")
    assert(back.columns.toSeq === Seq("id", "name", "flag", "_sdc_table_version"))
    assert(back.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq === Seq(1L, 3L, 4L))
  }

  test("purge of a partition_cols stream keeps the hive layout") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out, partitionCols = Seq("flag"))
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1, "name": "a", "flag": true}}""",
      """{"type": "RECORD", "stream": "v", "record": {"id": 2, "name": "b", "flag": false}, "version": 1}""")),
      cfg)
    SingerLoader.loadFile(spark, writeFixture(Seq(namedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 3, "name": "c", "flag": false}, "version": 2}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")),
      cfg)
    val dirs = new java.io.File(s"$out/v").listFiles().map(_.getName)
      .filter(_.startsWith("flag="))
    assert(dirs.toSet === Set("flag=true", "flag=false"))
    val back = spark.read.parquet(s"$out/v")
    assert(back.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("ACTIVATE_VERSION decides each file from its footer: rewrite, keep or delete") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out, skipExistingFiles = true)
    def rec(id: Int, v: Int) =
      s"""{"type": "RECORD", "stream": "v", "record": {"id": $id}, "version": $v}"""
    def files = new java.io.File(s"$out/v").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    SingerLoader.loadFile(spark, writeFixture(Seq(versionedSchema, rec(1, 1), rec(2, 2))), cfg)
    val straddling = files.keySet
    SingerLoader.loadFile(spark, writeFixture(Seq(versionedSchema, rec(3, 2))), cfg)
    val above = files.keySet -- straddling
    SingerLoader.loadFile(spark, writeFixture(Seq(versionedSchema, rec(5, 1))), cfg)
    val below = files.keySet -- straddling -- above
    val before = files
    SingerLoader.loadFile(spark, writeFixture(Seq(versionedSchema,
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")), cfg)
    val after = files
    assert(after.keySet === straddling ++ above)              // below: deleted
    assert(above.forall(f => after(f) == before(f)))          // untouched
    assert(spark.read.parquet(s"$out/v/${straddling.head}").count() === 1) // rewritten
    assert(spark.read.parquet(s"$out/v").select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq === Seq(2L, 3L))
  }

  test("footer schema merge raises on a field seen with two types") {
    val dir = tmpDir()
    spark.range(2).selectExpr("id", "CAST(id AS STRING) AS a")
      .write.parquet(s"$dir/one")
    spark.range(2).selectExpr("id", "id AS a").write.parquet(s"$dir/two")
    val e = intercept[graft.core.SchemaChangedException] {
      graft.core.ParquetFooter.mergedSchema(spark, dir)
    }
    assert(e.getMessage.contains("field a"))
  }

  test("add_record_metadata stamps the _sdc_* lineage columns") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}, "time_extracted": "2024-02-03T04:05:06.000000Z"}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 2, "col2": "b", "col3": false}, "time_extracted": "2024-02-03T04:05:07.000000Z"}""")),
      GraftConfig(hdfsDestinationPath = out, addRecordMetadata = true))
    val back = spark.read.parquet(s"$out/t").orderBy("col1")
    val cols = back.columns.toSet
    for (c <- Seq("_sdc_extracted_at", "_sdc_received_at", "_sdc_batched_at",
        "_sdc_sync_started_at", "_sdc_sequence", "_sdc_deleted_at"))
      assert(cols.contains(c), s"missing $c in ${cols.mkString(",")}")
    val rows = back.collect()
    // extracted_at is deterministic from the message
    assert(rows(0).getAs[java.sql.Timestamp]("_sdc_extracted_at").toInstant
      === java.time.Instant.parse("2024-02-03T04:05:06Z"))
    // wall-clock stamps present; sequence values distinct; no delete stamp
    assert(rows.forall(r => r.getAs[java.sql.Timestamp]("_sdc_received_at") != null))
    assert(rows.map(_.getAs[Long]("_sdc_sequence")).distinct.length === 2)
    assert(rows.forall(_.isNullAt(rows(0).fieldIndex("_sdc_deleted_at"))))
    // and the columns do NOT appear when the config is off (default)
    val out2 = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out2))
    assert(!spark.read.parquet(s"$out2/t").columns.exists(_.startsWith("_sdc_")))
  }

  test("tap-declared _sdc_deleted_at coexists with add_record_metadata (stamp wins)") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      """{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": {"col1": {"type": ["integer", "null"]}, "_sdc_deleted_at": {"type": ["string", "null"]}}}}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "_sdc_deleted_at": "2024-05-06T07:08:09.000000Z"}}""")),
      GraftConfig(hdfsDestinationPath = out, addRecordMetadata = true))
    val back = spark.read.parquet(s"$out/t")
    assert(back.columns.count(_ == "_sdc_deleted_at") === 1)
    // the record's value flows through the stamp (read from the raw JSON)
    assert(back.head().getAs[java.sql.Timestamp]("_sdc_deleted_at").toInstant
      === java.time.Instant.parse("2024-05-06T07:08:09Z"))
  }

  test("toggling add_record_metadata between syncs compacts without schema drift") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}}""")),
      GraftConfig(hdfsDestinationPath = out, addRecordMetadata = true))
    // second sync with metadata OFF must union into the same file: the six
    // _sdc_* columns are loader-internal and NULL-align, not schema drift
    SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      """{"type": "RECORD", "stream": "t", "record": {"col1": 2, "col2": "b", "col3": false}}""")),
      GraftConfig(hdfsDestinationPath = out))
    val back = spark.read.parquet(s"$out/t").orderBy("col1").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(back(0).getAs[java.sql.Timestamp]("_sdc_received_at") != null)
    assert(back(1).isNullAt(back(1).fieldIndex("_sdc_received_at")))
  }

  test("ACTIVATE_VERSION on an unversioned stream keeps all rows") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out))
    SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      """{"type": "ACTIVATE_VERSION", "stream": "t", "version": 99}""")),
      GraftConfig(hdfsDestinationPath = out))
    assert(spark.read.parquet(s"$out/t").count() === 3)
  }

  test("multiple streams demux to separate dirs") {
    val out = tmpDir()
    val result = SingerLoader.loadFile(spark, writeFixture(Seq(
      """{"type": "SCHEMA", "stream": "a", "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}}""",
      """{"type": "SCHEMA", "stream": "b", "schema": {"type": "object", "properties": {"y": {"type": "string"}}}}""",
      """{"type": "RECORD", "stream": "a", "record": {"x": 1}}""",
      """{"type": "RECORD", "stream": "b", "record": {"y": "z"}}""",
      """{"type": "RECORD", "stream": "a", "record": {"x": 2}}""")),
      GraftConfig(hdfsDestinationPath = out))
    assert(result.streams.toSet === Set("a", "b"))
    assert(spark.read.parquet(s"$out/a").count() === 2)
    assert(spark.read.parquet(s"$out/b").count() === 1)
  }

  // ---- Singer BATCH messages (singer-sdk 0.35 inherited surface) --------

  test("BATCH manifest files (jsonl + jsonl.gz) ingest identically to inline RECORDs") {
    val dir = Files.createTempDirectory("graft-batch")
    val f1 = dir.resolve("part1.jsonl")
    Files.write(f1, Seq(
      """{"col1": 10, "col2": "x", "col3": true}""",
      """{"col1": 11, "col2": "y", "col3": false}""").mkString("\n").getBytes("UTF-8"))
    val f2 = dir.resolve("part2.jsonl.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f2))
    gz.write("""{"col1": 12, "col2": "z", "col3": true}""".getBytes("UTF-8"))
    gz.close()

    val outBatch = tmpDir()
    val rBatch = SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      s"""{"type": "BATCH", "stream": "t", "encoding": {"format": "jsonl", "compression": "none"}, "manifest": ["file://$f1"]}""",
      s"""{"type": "BATCH", "stream": "t", "encoding": {"format": "jsonl", "compression": "gzip"}, "manifest": ["file://$f2"]}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}}""")),
      GraftConfig(hdfsDestinationPath = outBatch))
    assert(rBatch.streams === Seq("t"))

    // the same four records fed inline must produce identical rows + schema
    val outInline = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(Seq(
      fixture.head,
      """{"type": "RECORD", "stream": "t", "record": {"col1": 10, "col2": "x", "col3": true}}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 11, "col2": "y", "col3": false}}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 12, "col2": "z", "col3": true}}""",
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}}""")),
      GraftConfig(hdfsDestinationPath = outInline))
    val a = spark.read.parquet(s"$outBatch/t")
    val b = spark.read.parquet(s"$outInline/t")
    assert(a.schema === b.schema)
    assert(a.collect().map(_.toString).sorted.toSeq ===
      b.collect().map(_.toString).sorted.toSeq)
  }

  test("BATCH for a stream with no SCHEMA raises") {
    val err = intercept[graft.core.InvalidConfigException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        """{"type": "BATCH", "stream": "ghost", "encoding": {"format": "jsonl", "compression": "none"}, "manifest": ["/nope.jsonl"]}""")),
        GraftConfig(hdfsDestinationPath = tmpDir()))
    }
    assert(err.getMessage.contains("ghost"))
  }

  test("BATCH with an unsupported encoding raises") {
    import graft.core.{InvalidConfigException, SingerMessage}
    val e1 = intercept[InvalidConfigException](SingerMessage.parse(
      """{"type": "BATCH", "stream": "t", "encoding": {"format": "parquet"}, "manifest": []}"""))
    assert(e1.getMessage.contains("format"))
    val e2 = intercept[InvalidConfigException](SingerMessage.parse(
      """{"type": "BATCH", "stream": "t", "encoding": {"format": "jsonl", "compression": "zstd"}, "manifest": []}"""))
    assert(e2.getMessage.contains("compression"))
  }

  // ---- control-plane boundedness ---------------------------------------

  test("1M STATE lines reduce to a bounded collect with last-state-wins intact") {
    import spark.implicits._
    val n = 1000000L
    val states = spark.range(n)
      .map(i => s"""{"type": "STATE", "value": {"n": $i}}""")
    val head = spark.createDataset(Seq(
      fixture.head,
      """{"type": "RECORD", "stream": "t", "record": {"col1": 1, "col2": "a", "col3": true}}"""))
    val lines = head.union(states)

    // the fused control pass must collect O(streams + distinct control
    // lines), not one row per STATE: 1 schema line + 1 record stream + 1
    // surviving state
    val collected = SingerLoader.controlPass(SingerLoader.route(lines))
    assert(collected.length <= 3, collected.mkString("\n"))

    // end-to-end: the LAST state in input order wins
    val result = SingerLoader.load(spark, lines,
      GraftConfig(hdfsDestinationPath = tmpDir()))
    assert(result.lastState.exists(_.contains((n - 1).toString)))
    assert(result.streams === Seq("t"))
  }

  test("the control and validation folds equal a sequential reference at 1 to 8 partitions") {
    import spark.implicits._
    import graft.core.{SchemaMessage, SingerMessage}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLines = Seq(
      """{"type": "SCHEMA", "stream": "a", "schema": {"type": "object", "required": ["id"], "properties": {"id": {"type": ["integer", "null"]}, "s": {"type": "string"}}}, "key_properties": ["id"]}""",
      """{"type": "SCHEMA", "stream": "b", "schema": {"type": "object", "properties": {"k": {"type": ["integer", "null"]}, "s": {"type": "string"}}}, "key_properties": ["k"]}""",
      """{"type": "SCHEMA", "stream": "c", "schema": {"type": "object", "properties": {"s": {"type": "string"}}}}""")
    val schemas = schemaLines.map(l => SingerMessage.parse(l).asInstanceOf[SchemaMessage])
    // non-ASCII strings: the example is the byte-wise largest record as
    // `json_tuple` renders it (its UTF-8 generator escapes a surrogate pair)
    val words = Seq("x", "\u00e9", "\uE000", "\uD83D\uDE00", "zz", "")
    def lines(seed: Int): Seq[String] = {
      val rnd = new scala.util.Random(seed)
      def field(name: String) = rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some(s""""$name":null""")
        case _ => Some(s""""$name":${rnd.nextInt(50)}""")
      }
      Seq.fill(300)(rnd.nextInt(20) match {
        case 0 => schemaLines(rnd.nextInt(3))
        case 1 | 2 => s"""{"type": "STATE", "value": {"n": ${rnd.nextInt(1000)}}}"""
        case 3 => s"""{"type": "ACTIVATE_VERSION", "stream": "a", "version": ${rnd.nextInt(3)}}"""
        case 4 => Seq("", "   ")(rnd.nextInt(2))
        case 5 => Seq("""{"stream": "a"}""", "not json", """{"type": "RECORD", "stream": "b"}""",
          s"""{"type": "BOGUS${rnd.nextInt(3)}"}""")(rnd.nextInt(4))
        case _ =>
          val fields = Seq(field("id"), field("k"),
            Some(s""""s":"${words(rnd.nextInt(words.size))}${rnd.nextInt(100)}"""")).flatten
          val version = if (rnd.nextInt(4) == 0) s""", "version": ${rnd.nextInt(3)}""" else ""
          s"""{"type": "RECORD", "stream": "${"abc" (rnd.nextInt(3))}", "record": {${fields.mkString(",")}}$version}"""
      })
    }

    /** The control plane and the violations, one line at a time. */
    def reference(ls: Seq[String]) = {
      val control = scala.collection.mutable.LinkedHashSet.empty[String]
      val unknown = scala.collection.mutable.LinkedHashSet.empty[String]
      val records = scala.collection.mutable.Map.empty[String, (Long, Boolean)]
      val bad = scala.collection.mutable.Map.empty[String, (Long, String)]
      var state, untyped, nullRecord: Option[String] = None
      def byteOrder(a: String, b: String) = java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      ls.filter(_.exists(_ != ' ')).foreach { line =>
        val node = scala.util.Try(mapper.readTree(line)).toOption.filter(_.isObject)
        def text(f: String) = node.flatMap(n => Option(n.get(f))).filterNot(_.isNull)
          .map(v => if (v.isTextual) v.asText else new String(mapper.writeValueAsBytes(v), "UTF-8"))
        (text("type"), text("record")) match {
          case (None, _) => untyped = Some(line)
          case (Some("RECORD"), None) =>
            nullRecord = Some(line)
            // no payload: no key present, so a violation without an example
            text("stream").filter(Set("a", "b")).foreach { stream =>
              val (m, ex) = bad.getOrElse(stream, (0L, null))
              bad(stream) = (m + 1, ex)
            }
          case (Some(t), _) if !Set("RECORD", "SCHEMA", "STATE", "ACTIVATE_VERSION", "BATCH")(t) =>
            unknown += t
          case (Some("RECORD"), Some(rec)) =>
            val stream = text("stream").get
            val (n, v) = records.getOrElse(stream, (0L, false))
            records(stream) = (n + 1, v || text("version").isDefined)
            val r = node.get.get("record")
            def missing(f: String) = !r.has(f) || r.get(f).isNull
            if ((stream == "a" && missing("id")) || (stream == "b" && missing("k"))) {
              val (m, ex) = bad.getOrElse(stream, (0L, null))
              bad(stream) = (m + 1, if (ex == null || byteOrder(rec, ex) > 0) rec else ex)
            }
          case (Some("STATE"), _) => state = Some(line)
          case _ => control += line
        }
      }
      (control.toSeq, state.toSeq, untyped.toSeq, nullRecord.toSeq, unknown.toSeq,
        records.toMap, bad.toMap)
    }

    for (seed <- 1 to 3; k <- 1 to 8) {
      val ls = lines(seed)
      val routed = SingerLoader.route(spark.createDataset(spark.sparkContext.parallelize(ls, k)))
      val pass = SingerLoader.controlPass(routed)
      def of(kind: String) = pass.filter(_.kind == kind)
      val got = (of("control").map(_.last), of("state").map(_.last),
        of("untyped").map(_.last), of("null_record").map(_.last), of("unknown").map(_.key),
        of("record").map(g => g.key -> (g.n, g.versioned)).toMap,
        SingerLoader.violations(routed, schemas))
      assert(got === reference(ls), s"seed $seed, $k partitions")
    }
  }

  // ---- protocol failure paths of the control pass ------------------------

  def loadFails[E <: Throwable](lines: Seq[String])(
      implicit ct: scala.reflect.ClassTag[E]): E =
    intercept[E](SingerLoader.loadFile(spark, writeFixture(lines),
      GraftConfig(hdfsDestinationPath = tmpDir())))

  test("a line without a type raises") {
    val e = loadFails[graft.core.InvalidConfigException](
      fixture :+ """{"stream": "t", "record": {"col1": 9}}""")
    assert(e.getMessage === """line without a Singer 'type': {"stream": "t", "record": {"col1": 9}}""")
  }

  test("a RECORD without a record payload raises") {
    val e = loadFails[graft.core.InvalidConfigException](
      fixture :+ """{"type": "RECORD", "stream": "t"}""")
    assert(e.getMessage ===
      """RECORD message without a record payload: {"type": "RECORD", "stream": "t"}""")
  }

  test("an unknown message type raises") {
    val e = loadFails[graft.core.InvalidConfigException](
      fixture :+ """{"type": "BOGUS", "stream": "t"}""")
    assert(e.getMessage === "unknown Singer message type: BOGUS")
  }

  test("conflicting SCHEMAs for one stream raise") {
    val e = loadFails[graft.core.SchemaChangedException](fixture :+
      """{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": {"col1": {"type": "string"}}}}""")
    assert(e.getMessage === "conflicting SCHEMA messages for stream 't' in one batch")
  }

  test("a validation failure in any stream writes no stream of the batch") {
    val out = tmpDir()
    val e = intercept[graft.core.RecordValidationException] {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        """{"type": "SCHEMA", "stream": "a", "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}}""",
        requiredSchema,
        """{"type": "RECORD", "stream": "a", "record": {"x": 1}}""",
        """{"type": "RECORD", "stream": "r", "record": {"id": 1, "name": "ok"}}""",
        """{"type": "RECORD", "stream": "r", "record": {"id": 2}}""")),
        GraftConfig(hdfsDestinationPath = out))
    }
    assert(e.getMessage.startsWith("stream 'r': 1 record(s) violate"))
    assert(!new java.io.File(s"$out/a").exists())
    assert(!new java.io.File(s"$out/r").exists())
  }

  // ---- shortcuts taken from the control pass's counts --------------------

  test("a __filter__ that drops every row writes no file") {
    val out = tmpDir()
    SingerLoader.loadFile(spark, writeFixture(fixture),
      GraftConfig(hdfsDestinationPath = out,
        streamMaps = Map("t" -> StreamMapSpec.Properties(Map(
          "__filter__" -> Some("col1 > 100"))))))
    assert(!new java.io.File(s"$out/t").exists())
  }

  test("ACTIVATE_VERSION above every committed version still removes the dir") {
    val out = tmpDir()
    // the batch commits v1 rows only, so the activated v2 keeps nothing:
    // the emptiness job must run and remove the stream dir
    SingerLoader.loadFile(spark, writeFixture(Seq(
      versionedSchema,
      """{"type": "RECORD", "stream": "v", "record": {"id": 1}, "version": 1}""",
      """{"type": "ACTIVATE_VERSION", "stream": "v", "version": 2}""")),
      GraftConfig(hdfsDestinationPath = out))
    assert(!new java.io.File(s"$out/v").exists())
  }

  test("per-stream record_count METRIC lines go to stderr") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      SingerLoader.loadFile(spark, writeFixture(Seq(
        fixture.head,
        """{"type": "SCHEMA", "stream": "e\"mpty", "schema": {"type": "object", "properties": {"x": {"type": "integer"}}}}""") ++
        fixture.tail),
        GraftConfig(hdfsDestinationPath = tmpDir()))
    }
    val metrics = err.toString("UTF-8").linesIterator.filter(_.startsWith("METRIC: ")).toSeq
    assert(metrics === Seq(
      """METRIC: {"type": "counter", "metric": "record_count", "value": 3, "tags": {"stream": "t"}}""",
      """METRIC: {"type": "counter", "metric": "record_count", "value": 0, "tags": {"stream": "e\"mpty"}}"""))
  }
  // ---- leftovers of the per-stream commit the journal replaced -----------

  private def ids(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("col1").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
  private val record4 =
    """{"type": "RECORD", "stream": "t", "record": {"col1": 4, "col2": "d", "col3": true}}"""
  private def leftoverNames(out: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(out)).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.contains("__purge_") || n.contains("_new_tmp") || n == "_graft_sync")
      .toSeq

  test("a stream dir lost in the old purge's rename window is restored from __purge_old") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out)
    SingerLoader.loadFile(spark, writeFixture(fixture), cfg)
    // the crash window: the dir renamed away, its rewrite staged, not yet renamed in
    Files.move(java.nio.file.Paths.get(s"$out/t"), java.nio.file.Paths.get(s"$out/t__purge_old"))
    Files.createDirectories(java.nio.file.Paths.get(s"$out/t__purge_tmp"))
    SingerLoader.loadFile(spark, writeFixture(Seq(fixture.head, record4)), cfg)
    assert(ids(s"$out/t") === Seq(1L, 2L, 3L, 4L))
    assert(leftoverNames(out) === Nil)
  }

  test("stale __purge_tmp and __purge_old next to a present stream dir are removed") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out)
    SingerLoader.loadFile(spark, writeFixture(fixture), cfg)
    for (d <- Seq("t__purge_tmp", "t__purge_old")) {
      Files.createDirectories(java.nio.file.Paths.get(s"$out/$d"))
      Files.write(java.nio.file.Paths.get(s"$out/$d/part-0.parquet"), Array[Byte](1))
    }
    SingerLoader.loadFile(spark, writeFixture(Seq(fixture.head, record4)), cfg)
    assert(ids(s"$out/t") === Seq(1L, 2L, 3L, 4L))
    assert(leftoverNames(out) === Nil)
  }

  test("a file lost between the old compaction's delete and rename is restored from _new_tmp") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out)
    SingerLoader.loadFile(spark, writeFixture(fixture), cfg)
    val file = new java.io.File(s"$out/t").listFiles().filter(_.getName.endsWith(".parquet")).head
    val staged = java.nio.file.Paths.get(s"${file.getPath}_new_tmp")
    Files.createDirectories(staged)
    Files.move(file.toPath, staged.resolve("part-00000-x.gz.parquet"))
    SingerLoader.loadFile(spark, writeFixture(Seq(fixture.head, record4)), cfg)
    assert(ids(s"$out/t") === Seq(1L, 2L, 3L, 4L))
    assert(new java.io.File(s"$out/t").listFiles().count(_.getName.endsWith(".parquet")) === 1)
    assert(leftoverNames(out) === Nil)
  }

  test("a stale _new_tmp next to its target is removed") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out)
    SingerLoader.loadFile(spark, writeFixture(fixture), cfg)
    val file = new java.io.File(s"$out/t").listFiles().filter(_.getName.endsWith(".parquet")).head
    val staged = java.nio.file.Paths.get(s"${file.getPath}_new_tmp")
    Files.createDirectories(staged)
    Files.copy(file.toPath, staged.resolve("part-00000-x.gz.parquet"))
    // a fresh file this time, so no rewrite of that target reuses the path
    SingerLoader.loadFile(spark, writeFixture(Seq(fixture.head, record4)),
      cfg.copy(skipExistingFiles = true))
    assert(ids(s"$out/t") === Seq(1L, 2L, 3L, 4L))
    assert(leftoverNames(out) === Nil)
  }

  test("a staging dir left without a journal is rolled back; no staged file outlives a sync") {
    val out = tmpDir()
    val cfg = GraftConfig(hdfsDestinationPath = out)
    SingerLoader.loadFile(spark, writeFixture(fixture), cfg)
    val staging = java.nio.file.Paths.get(s"$out/_graft_sync/1-crashed")
    Files.createDirectories(staging)
    val file = new java.io.File(s"$out/t").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(file.toPath, staging.resolve("part-0-1.parquet"))
    // a torn journal: the crash struck while it was being written
    Files.write(staging.resolve("_journal.json"), """{"moves": [{"from": """.getBytes("UTF-8"))
    SingerLoader.loadFile(spark, writeFixture(Seq(fixture.head, record4)), cfg)
    assert(ids(s"$out/t") === Seq(1L, 2L, 3L, 4L))
    assert(leftoverNames(out) === Nil)
  }
}
