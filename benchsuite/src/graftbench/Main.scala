package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload in a fresh JVM, one client
  * thread on `local[N]` with N = available processors.
  *
  * {{{
  *   Main --workload lookup|join|corpus --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * With `--trace 0` it prints the end-to-end metrics, with `--trace 1`
  * the per-layer metrics derived from spans around every call into the
  * program (the span file goes to DIR/spans). The last stdout line is
  * one JSON object; the full run record goes to DIR/runs. */
object Main {
  val ShufflePartitions = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl: Workload = opts.get("workload") match {
      case Some("lookup") => Lookup
      case Some("join") => Join
      case Some("corpus") => Corpus
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts.getOrElse("work", ".bench_build/work")).getAbsolutePath
    val runDir = s"$work/${wl.name}-s$seed-t${if (trace) 1 else 0}"
    deleteTree(new java.io.File(runDir))

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/tmp")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)
    try {
      val tracer = new Tracer(spark, trace)
      val res = Runner.run(spark, wl, s"$runDir/data", seed, seconds, tracer,
        s"$work/spans/${wl.name}-s$seed.jsonl")
      val recordFile = new java.io.File(s"$work/runs/${wl.name}-s$seed-t${if (trace) 1 else 0}.json")
      recordFile.getParentFile.mkdirs()
      java.nio.file.Files.write(recordFile.toPath, res.record.getBytes("UTF-8"))
      val metrics = Json.obj(res.metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
      println(s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
        s""""failed":${res.failed},"metrics":$metrics}""")
    } finally {
      spark.stop()
      deleteTree(new java.io.File(runDir))
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
