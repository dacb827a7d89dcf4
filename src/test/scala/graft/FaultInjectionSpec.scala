package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.loader.SingerLoader

/** The local file system under the `fault://` scheme, failing the k-th
  * mutating call (create, mkdirs, rename, delete — checksum companions
  * included) with an IOException once armed. */
class FaultFs extends LocalFileSystem(new FaultFs.Raw)

object FaultFs {
  val Scheme = "fault"
  private val calls = new AtomicLong
  @volatile private var failAt = 0L

  /** Count mutating calls from zero; fail call `k` (0: never). */
  def arm(k: Long): Unit = { calls.set(0); failAt = k }
  def count: Long = calls.get

  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    private def tick(op: String, p: Path): Unit = {
      val n = calls.incrementAndGet()
      if (n == failAt) throw new IOException(s"injected fault at call $n: $op $p")
    }
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      tick("create", f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def mkdirs(f: Path): Boolean = { tick("mkdirs", f); super.mkdirs(f) }
    override def mkdirs(f: Path, permission: FsPermission): Boolean = {
      tick("mkdirs", f); super.mkdirs(f, permission)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      tick("rename", src); super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      tick("delete", p); super.delete(p, recursive)
    }
  }
}

/** A sync that fails at any mutating file-system call leaves the
  * destination recoverable: the next sync with the same input (the tap's
  * replay, since no STATE was echoed) leaves every stream as a fault-free
  * run does — the batch committed once when the fault struck before the
  * commit point, twice when after (the journal was complete, so recovery
  * finished that commit and the replay appended again) — and no staging
  * path or journal remains. Two streams: `e` compacts into its preloaded
  * file, `p` activates a version its compacted file straddles. */
class FaultInjectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schemaE =
    """{"type": "SCHEMA", "stream": "e", "schema": {"type": "object", "properties": {"id": {"type": "integer"}, "s": {"type": ["string", "null"]}}}}"""
  private val schemaP =
    """{"type": "SCHEMA", "stream": "p", "schema": {"type": "object", "properties": {"id": {"type": "integer"}}}, "key_properties": ["id"]}"""
  private def e(ids: Int*) =
    ids.map(i => s"""{"type": "RECORD", "stream": "e", "record": {"id": $i, "s": "r$i"}}""")
  private def p(version: Int, ids: Int*) =
    ids.map(i => s"""{"type": "RECORD", "stream": "p", "record": {"id": $i}, "version": $version}""")
  private def activate(version: Int) =
    s"""{"type": "ACTIVATE_VERSION", "stream": "p", "version": $version}"""

  private def fixture(lines: Seq[String]): String = {
    val f = Files.createTempFile("singer", ".jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  // sync 1: e and p (v1, activated); sync 2: more of both, p at v2 not yet
  // activated, so p's compacted file holds v1 and v2; the sync under test
  // appends to e and activates v2 on p (its file straddles v2)
  private lazy val prior = Seq(
    fixture(Seq(schemaE, schemaP) ++ e(1, 2, 3) ++ p(1, 1, 2, 3) :+ activate(1)),
    fixture(Seq(schemaE, schemaP) ++ e(4) ++ p(2, 1, 2)))
  private lazy val batch = fixture(Seq(schemaE, schemaP) ++ e(5, 6) ++ p(2, 3) :+ activate(2))

  private def load(dest: File, input: String): Unit =
    SingerLoader.loadFile(spark, input,
      GraftConfig(hdfsDestinationPath = s"${FaultFs.Scheme}://${dest.getAbsolutePath}"))

  /** Each stream's rows as a sorted multiset. */
  private def contents(dest: File): Map[String, Seq[String]] =
    Seq("e", "p").map { s =>
      s -> spark.read.parquet(new File(dest, s).getPath).collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted
    }.toMap

  private def copy(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator.asScala.foreach { f =>
      val d: JPath = to.toPath.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(d)
      else Files.copy(f, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Staging or journal paths anywhere under `dest`. */
  private def leftovers(dest: File): Seq[String] =
    Files.walk(dest.toPath).iterator.asScala.map(f => dest.toPath.relativize(f).toString)
      .filter(n => n.contains("_graft_sync") || n.contains("_journal") ||
        n.contains("_new_tmp") || n.contains("__purge_") || n.contains("_temporary"))
      .toSeq

  test("a fault at every mutating call of a sync is recovered by the next sync") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    FaultFs.arm(0)
    val base = Files.createTempDirectory("graft-fault").toFile
    val seeded = new File(base, "seeded")
    prior.foreach(load(seeded, _))
    def reference(name: String, syncs: Int): Map[String, Seq[String]] = {
      val d = new File(base, name)
      copy(seeded, d)
      FaultFs.arm(0)
      (1 to syncs).foreach(_ => load(d, batch))
      assert(leftovers(d) === Nil)
      contents(d)
    }
    val once = reference("once", 1)
    val twice = reference("twice", 2)
    assert(once("p").size === 3 && once("e").size === 6)

    // the mutating calls of one fault-free sync under test
    val probe = new File(base, "probe")
    copy(seeded, probe)
    FaultFs.arm(0)
    load(probe, batch)
    val calls = FaultFs.count
    assert(calls > 0)

    // every k runs, so a failure report names each faulty call, not the first
    val outcomes = (1L to calls).map { k =>
      val dest = new File(base, s"k$k")
      copy(seeded, dest)
      FaultFs.arm(k)
      val raised = try { load(dest, batch); false } catch { case _: Exception => true }
      FaultFs.arm(0)
      val got = Try { load(dest, batch); contents(dest) }
      val problems = Seq(
        Option.when(!raised)("the sync did not raise"),
        got.failed.toOption.map(t => s"the recovery sync or the read-back raised $t"),
        Option.when(leftovers(dest).nonEmpty)(s"left ${leftovers(dest)}"),
        got.toOption.filter(g => g != once && g != twice).map(g =>
          s"streams not as after one or two fault-free syncs, together: $g")).flatten
      (k, problems, got.toOption.contains(once))
    }
    val failed = outcomes.collect { case (k, ps, _) if ps.nonEmpty => s"call $k: ${ps.mkString("; ")}" }
    assert(failed.isEmpty, s"${failed.size} of $calls faulty calls:\n${failed.mkString("\n")}")
    // both sides of the commit point were hit
    assert(outcomes.exists(_._3) && outcomes.exists(!_._3))
  }
}
