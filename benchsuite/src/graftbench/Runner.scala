package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** One operation: `build` calls the verb, `prepare` projects or
  * aggregates the returned frame for the action, `exec` runs the action.
  * `check` compares the action's rows with a reference computed outside
  * the timed region and returns a reason on mismatch. `attrs` adds
  * per-layer attributes to the traced exec span, given the plan's.
  * Write operations do all their work in `build` and return an empty
  * frame. */
final case class Op(cls: String, group: String,
                    build: () => DataFrame,
                    prepare: DataFrame => DataFrame,
                    exec: DataFrame => Array[Row],
                    check: Array[Row] => Option[String],
                    attrs: Map[String, Double] => Map[String, Double] = _ => Map.empty)

/** A generated and loaded workload instance, ready to be run. */
trait Instance {
  /** Checksum of the generated parquet inputs. */
  def checksum: String
  /** Planted ground truth and the shares of the input that carry the
    * properties an optimisation depends on. */
  def truth: Map[String, Double]
  /** Planted pairs (original, copy), recorded with the inputs' checksum. */
  def planted: Seq[(String, Seq[(Long, Long)])] = Nil
  /** Setup sub-steps in seconds (input write, index builds). */
  def setupParts: Map[String, Double]
  /** Operations of the untimed warm-up and correctness pass. Workloads
    * whose round of operations is too long to run twice have none; their
    * first timed round is checked instead. */
  def warmOps(): Seq[Op]
  /** The next operation of the timed phase, or None when the phase's
    * rounds are complete and `elapsed` is past the run length. */
  def nextOp(elapsed: Double, seconds: Double): Option[Op]
  /** Whether every timed operation is checked against its reference
    * (cheap references), or only the first of its class, later repeats
    * against that one's row hash. */
  def checkEveryOp: Boolean
  /** kNN operation classes, pooled by `knn_p50_ms`. */
  def knnClasses: Set[String]
  /** Extra per-layer attributes of write operations (bytes, files). */
  def writeStats: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

trait Workload {
  def name: String
  /** Generates the inputs under `dir` from `seed`, loads and indexes
    * them. Called several times per run; the last instance is used. */
  def setup(spark: SparkSession, dir: String, seed: Long): Instance
}

/** Whole rounds over a fixed operation list until the run length is
  * used, so every class has the same repeat count. */
final class Rounds(ops: Seq[Op]) {
  private var i = 0
  def next(elapsed: Double, seconds: Double): Option[Op] =
    if (i > 0 && i % ops.size == 0 && elapsed >= seconds) None
    else { val op = ops(i % ops.size); i += 1; Some(op) }
}

final case class Sample(cls: String, group: String, seconds: Double, ok: Boolean)

object Runner {
  val SetupRepeats = 3
  val AllGroups = Seq("lookup_read", "lookup_write", "point_join", "knn_join",
    "shape_join", "dedup", "text", "vector", "graph")
  val Paths = Seq("zorder", "quadtree", "disk", "scan")

  /** Order-independent hash of an action's rows. */
  def rowsHash(rows: Array[Row]): Long =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toSeq)).toLong << 32 |
      (rows.length.toLong & 0xffffffffL)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Candidate pairs before the exact refine: rows a join emitted into a
    * filter directly above it. Zero where the refine sits inside the
    * join condition, which SQL metrics do not split. */
  def candidates(nodes: Seq[SparkPlan]): Long =
    nodes.collect {
      case f: FilterExec => f.child match {
        case j: BaseJoinExec => Tracer.metric(j, "numOutputRows")
        case _ => 0L
      }
    }.sum

  def planAttrs(q: DataFrame): Map[String, Double] = {
    val ns = Tracer.nodes(q.queryExecution.executedPlan)
    val scanRows = ns.collect {
      case s: FileSourceScanExec => Tracer.metric(s, "numOutputRows")
      case s: InMemoryTableScanExec => Tracer.metric(s, "numOutputRows")
    }.sum
    Map(
      "candidates" -> candidates(ns).toDouble,
      "scan_rows" -> scanRows.toDouble,
      "files_read" -> ns.collect { case s: FileSourceScanExec => Tracer.metric(s, "numFiles") }
        .sum.toDouble,
      "cache_read" -> (if (ns.exists(_.isInstanceOf[InMemoryTableScanExec])) 1.0 else 0.0))
  }

  /** Block storage held by cached and checkpointed RDDs, in MB. */
  def storageMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(300)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], record: String)

  def run(spark: SparkSession, wl: Workload, workDir: String, seed: Long,
          seconds: Double, tracer: Tracer, spanPath: String): Result = {
    val problems = ArrayBuffer[String]()
    // several set-ups, each from scratch; their median is setup_s and
    // their checksums must agree (byte-identical inputs per seed)
    val setupTimes = ArrayBuffer[Double]()
    val sums = ArrayBuffer[String]()
    var inst: Instance = null
    for (i <- 0 until SetupRepeats) {
      if (inst != null) inst.close()
      val t0 = System.nanoTime()
      inst = wl.setup(spark, s"$workDir/setup$i", seed)
      setupTimes += (System.nanoTime() - t0) / 1e9
      sums += inst.checksum
    }
    if (sums.distinct.size != 1) problems += s"inputs differ between set-ups: ${sums.distinct}"

    // untimed warm-up, checked against the references
    val expected = scala.collection.mutable.Map[String, Long]()
    var attempted = 0
    var failed = 0
    val quiet = new Tracer(spark, on = false)
    inst.warmOps().foreach { op =>
      attempted += 1
      try {
        val (rows, _) = quiet.run(op.cls, op.group)(op.build())(op.prepare)(op.exec)()
        op.check(rows) match {
          case Some(why) => failed += 1; problems += s"${op.cls}: $why"
          case None => expected(op.cls) = rowsHash(rows)
        }
      } catch {
        case e: Exception => failed += 1; problems += s"${op.cls} (warm-up) threw: $e"
      }
    }
    // block storage is only read for the per-layer metric: the probe
    // forces a GC and a pause
    val retained0 = if (tracer.on) storageMb(spark) else 0.0

    val samples = ArrayBuffer[Sample]()
    var checkNs = 0L
    val phase0 = System.nanoTime()
    var next = inst.nextOp(0.0, seconds)
    while (next.isDefined) {
      val op = next.get
      attempted += 1
      val ok = try {
        val (rows, lat) = tracer.run(op.cls, op.group)(op.build())(op.prepare)(op.exec) { (q, rs) =>
          val pa = planAttrs(q) + ("results" -> resultRows(op, rs))
          pa ++ op.attrs(pa)
        }
        // the first result of a class is checked against its reference
        // (outside the timed call); later repeats must reproduce its hash
        val c0 = System.nanoTime()
        val good =
          if (inst.checkEveryOp || !expected.contains(op.cls)) op.check(rows) match {
            case Some(why) => problems += s"${op.cls}: $why"; false
            case None => expected(op.cls) = rowsHash(rows); true
          } else if (expected(op.cls) == rowsHash(rows)) true
          else { problems += s"${op.cls}: result differs between repeats"; false }
        checkNs += System.nanoTime() - c0
        samples += Sample(op.cls, op.group, lat, good)
        good
      } catch {
        case e: Exception =>
          problems += s"${op.cls} threw: $e"
          false
      }
      if (!ok) failed += 1
      next = inst.nextOp((System.nanoTime() - phase0) / 1e9, seconds)
    }
    val retainedMb = if (tracer.on) storageMb(spark) - retained0 else 0.0
    if (tracer.on) tracer.writeJsonl(spanPath)

    val good = samples.filter(_.ok)
    val byClass = good.groupBy(_.cls).map { case (c, ss) => c -> median(ss.map(_.seconds).toSeq) }
    val e2e = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("ops_per_s", good.size / math.max(good.map(_.seconds).sum, 1e-9), "1/s"),
      ("sweep_s", byClass.values.sum, "s"),
      ("knn_p50_ms", median(good.filter(s => inst.knnClasses(s.cls)).map(_.seconds).toSeq) * 1000, "ms"))
    val metrics =
      if (tracer.on) Layers.metrics(inst, tracer, retainedMb, seed) else e2e
    problems.foreach(p => System.err.println(s"[graftbench] problem: $p"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString,
      "trace" -> tracer.on.toString,
      "input_sha256" -> Json.str(inst.checksum),
      "truth" -> Json.obj(inst.truth.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "planted" -> Json.obj(inst.planted.map { case (k, ps) =>
        k -> ps.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]") }),
      "setup_parts_s" -> Json.obj(inst.setupParts.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "class_median_s" -> Json.obj(byClass.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "class_samples" -> Json.obj(good.groupBy(_.cls).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "class_counts" -> Json.obj(Layers.classCounts(tracer)),
      "e2e" -> Json.obj(e2e.map { case (k, v, _) => k -> Json.num(v) }),
      "trace_overhead_frac" -> Json.num(Layers.overhead(tracer)),
      "timed_phase_check_s" -> Json.num(checkNs / 1e9),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]")))
    inst.close()
    Result(problems.isEmpty && failed == 0, attempted, failed, metrics, record)
  }

  private def resultRows(op: Op, rows: Array[Row]): Double =
    if (op.group == "lookup_read") rows.headOption.map(_.getLong(0).toDouble).getOrElse(0.0)
    else rows.length.toDouble
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
