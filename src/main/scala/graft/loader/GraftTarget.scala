package graft.loader

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import graft.core.GraftConfig

/** CLI entry point — Singer target parity (reference: target_hdfs
  * `target-hdfs --config c.json < messages.jsonl`, plus `--about` /
  * `--version` introspection, target.py:19-52).
  *
  * Stdin is spooled to a temp file so the record plane is read through a
  * splittable Spark text source rather than a driver loop; the final STATE
  * message is echoed to stdout only after all sinks have committed
  * (at-least-once, exactly like the reference's drain-then-echo).
  */
object GraftTarget {
  val Version = "0.1.0"

  def main(args: Array[String]): Unit = {
    if (args.contains("--version")) { println(Version); return }
    if (args.contains("--about")) { println(GraftConfig.aboutJson); return }

    val configPath = args.collectFirst {
      case s if s.startsWith("--config=") => s.stripPrefix("--config=")
    }.orElse(args.sliding(2).collectFirst {
      case Array("--config", p) => p
    }).getOrElse(sys.error(
      "usage: GraftTarget --config <config.json|ENV> [< messages.jsonl]"))
    // `--config=ENV`: import TARGET_HDFS_* environment variables plus the
    // working directory's `.env` (reference README.md:44-48); terminal
    // context beats the `.env` file, dotenv-style
    val config =
      if (configPath == "ENV") {
        val dotEnvPath = Paths.get(".env")
        val dotEnv =
          if (Files.exists(dotEnvPath))
            GraftConfig.parseDotEnv(
              new String(Files.readAllBytes(dotEnvPath), "UTF-8"))
          else Map.empty[String, String]
        GraftConfig.fromEnv(sys.env, dotEnv)
      } else GraftConfig.fromJson(
        new String(Files.readAllBytes(Paths.get(configPath)), "UTF-8"))

    val explicitInput = args.sliding(2).collectFirst { case Array("--input", p) => p }
    val spooled = explicitInput.isEmpty
    val input = explicitInput.getOrElse {
      val tmp = Files.createTempFile("singer-", ".jsonl")
      Files.copy(System.in, tmp, StandardCopyOption.REPLACE_EXISTING)
      tmp.toString
    }

    // Session ownership: reuse a live caller session untouched (no conf
    // mutation, no stop); otherwise create our own and stop it when done.
    // getActiveSession is thread-local, getDefaultSession is the global
    // fallback getOrCreate would reuse — check both, and filter stopped
    // contexts so a stopped-but-registered session doesn't fool the guard.
    val prior = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filter(s => !s.sparkContext.isStopped)
    val spark = prior.getOrElse(graft.GraftSession.getOrCreate("graft-target"))
    try {
      val result = SingerLoader.loadFile(spark, input, config)
      // state echo AFTER successful commit = at-least-once checkpoint
      result.lastState.foreach(println)
    } finally {
      if (prior.isEmpty) spark.stop()
      if (spooled) Files.deleteIfExists(Paths.get(input))
    }
  }
}
