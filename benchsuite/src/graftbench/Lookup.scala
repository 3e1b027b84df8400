package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{IndexManager, IndexedTable, QuadTreeIndexedTable, SpatialDisk}
import graft.operators.SpatialOps._

/** `lookup`: a seeded closed-loop stream of point lookups against one
  * table held four ways — z-order index, quadtree index, the at-rest
  * disk layout, and the plain parquet file read through the verbs
  * (which the index-substitution rule may answer from an index cache).
  * One operation in ten writes to the disk layout: a seeded append or a
  * located delete, so later disk reads pay the tombstones. Query sizes
  * span three decades, so the largest boxes pass the indexes'
  * selectivity fallback. */
object Lookup extends Workload {
  val name = "lookup"
  val Rows = 50000
  val ClusteredShare = 0.3
  val Batch = 250
  val Batches = 20
  /** Every tenth operation writes. */
  val WriteEvery = 10
  val P = 1000000007L

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val rng = new Gen.Rng(seed)
    val t0 = System.nanoTime()
    val base = Gen.mixedPoints(rng, Rows, 0L, ClusteredShare, 8, 60.0)
    val extra = Gen.mixedPoints(rng, Batch * Batches, Rows.toLong, ClusteredShare, 8, 60.0)
    val delIds = ArrayBuffer.tabulate(Rows)(_.toLong)
    rng.shuffle(delIds)
    val batchSchema = StructType(Gen.pointSchema.fields :+ StructField("batch", IntegerType, nullable = false))
    Gen.write(spark, Gen.pointRows(base), Gen.pointSchema, s"$dir/points")
    Gen.write(spark, extra.toSeq.zipWithIndex.map { case ((i, x, y), j) => Row(i, x, y, j / Batch) },
      batchSchema, s"$dir/appends")
    Gen.write(spark, delIds.take(Batch * Batches).zipWithIndex.map { case (i, j) =>
      Row(i, base(i.toInt)._2, base(i.toInt)._3, j / Batch) }.toSeq, batchSchema, s"$dir/deletes")
    val t1 = System.nanoTime()
    val src = spark.read.parquet(s"$dir/points")
    IndexManager.dropIndex(spark, "lookup_z")
    IndexManager.dropIndex(spark, "lookup_q")
    val z = IndexManager.indexTable(spark, src, "lookup_z", Seq("x", "y"), numPartitions = 8)
    z.boxRange(Array(0.0, 0.0), Array(1.0, 1.0)).count() // fills the cache
    val t2 = System.nanoTime()
    val q = IndexManager.quadTreeIndexTable(spark, src, "lookup_q", Seq("x", "y"), numPartitions = 8)
    q.boxRange(Array(0.0, 0.0), Array(1.0, 1.0)).count()
    val t3 = System.nanoTime()
    SpatialDisk.write(src, s"$dir/disk", Seq("x", "y"), cellBits = 2)
    val t4 = System.nanoTime()
    val parts = Map("write_inputs" -> (t1 - t0) / 1e9, "build_zorder" -> (t2 - t1) / 1e9,
      "build_quadtree" -> (t3 - t2) / 1e9, "build_disk" -> (t4 - t3) / 1e9)
    new LookupInstance(spark, dir, base, extra, delIds.take(Batch * Batches).toArray, z, q,
      Gen.checksum(Seq("points", "appends", "deletes").map(t => s"$dir/$t")), parts, seed)
  }

  /** Driver-side brute-force answers: (count, sum id, sum id^2 mod P),
    * the same fingerprint the timed action aggregates on the executors.
    * Predicates and distances use the verbs' own expression shapes. */
  final class Reference(pts: Array[(Long, Double, Double)]) {
    val alive: Array[Boolean] = Array.fill(pts.length)(true)
    val appended = ArrayBuffer[(Long, Double, Double)]()
    private def all(disk: Boolean): Iterator[(Long, Double, Double)] =
      if (!disk) pts.iterator
      else pts.iterator.zip(alive.iterator).collect { case (p, true) => p } ++ appended.iterator
    private def fp(it: Iterator[(Long, Double, Double)]): Seq[Long] = {
      var n = 0L; var s = 0L; var s2 = 0L
      it.foreach { case (i, _, _) => n += 1; s += i; s2 += (i * i) % P }
      Seq(n, s, s2)
    }
    private def inBox(x: Double, y: Double, lo: Array[Double], hi: Array[Double]) =
      x >= lo(0) && x <= hi(0) && y >= lo(1) && y <= hi(1)
    private def d(x: Double, y: Double, c: Array[Double]) =
      math.sqrt((x - c(0)) * (x - c(0)) + (y - c(1)) * (y - c(1)))
    def box(lo: Array[Double], hi: Array[Double], disk: Boolean): Seq[Long] =
      fp(all(disk).filter(p => inBox(p._2, p._3, lo, hi)))
    def circle(c: Array[Double], r: Double, disk: Boolean): Seq[Long] =
      fp(all(disk).filter(p => inBox(p._2, p._3, c.map(_ - r), c.map(_ + r)) && d(p._2, p._3, c) <= r))
    def knn(c: Array[Double], k: Int, disk: Boolean): Seq[Long] = {
      // bounded max-heap on (distance, id): the k nearest, ties by id
      val order = Ordering.Tuple2[Double, Long]
      val heap = scala.collection.mutable.PriorityQueue[(Double, Long, (Long, Double, Double))]()(
        Ordering.by[(Double, Long, (Long, Double, Double)), (Double, Long)](t => (t._1, t._2))(order))
      all(disk).foreach { p =>
        val t = (d(p._2, p._3, c), p._1, p)
        if (heap.size < k) heap.enqueue(t)
        else if (order.lt((t._1, t._2), (heap.head._1, heap.head._2))) { heap.dequeue(); heap.enqueue(t) }
      }
      fp(heap.iterator.map(_._3))
    }
  }

  final class LookupInstance(spark: SparkSession, dir: String,
                             base: Array[(Long, Double, Double)],
                             extra: Array[(Long, Double, Double)], delIds: Array[Long],
                             z: IndexedTable, q: QuadTreeIndexedTable,
                             val checksum: String, val setupParts: Map[String, Double],
                             seed: Long) extends Instance {
    private val ref = new Reference(base)
    private val disk = s"$dir/disk"
    private val src = spark.read.parquet(s"$dir/points")
    private var appends = 0
    private var deletes = 0
    private val stats = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

    private val fingerprint = (df: DataFrame) => df.agg(count(lit(1)),
      coalesce(sum(col("id")), lit(0L)), coalesce(sum(pmod(col("id") * col("id"), lit(P))), lit(0L)))
    private val collect = (df: DataFrame) => df.collect()
    private def expect(want: => Seq[Long])(rows: Array[Row]): Option[String] = {
      val got = Seq(rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2))
      if (got == want) None else Some(s"(count, sum, sum2) $got, reference $want")
    }

    private def dataFiles: Double = {
      def walk(f: File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet") && !f.getPath.contains("tomb")) 1 else 0
      walk(new File(disk)).toDouble
    }
    private def dirBytesFiles: (Double, Double) = {
      def walk(f: File): (Long, Int) =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).foldLeft((0L, 0))((a, b) =>
          (a._1 + b._1, a._2 + b._2))).getOrElse((0L, 0))
        else (f.length, 1)
      val (b, n) = walk(new File(disk))
      (b.toDouble, n.toDouble)
    }

    /** A read on one access path; `verb` is box, circle or knn. */
    private def read(path: String, verb: String, c: Array[Double], size: Double, k: Int): Op = {
      val onDisk = path == "disk"
      val (lo, hi) = (c.map(_ - size / 2), c.map(_ + size / 2))
      val r = size / 2
      val build: () => DataFrame = (path, verb) match {
        case ("zorder", "box") => () => z.boxRange(lo, hi)
        case ("zorder", "circle") => () => z.circleRange(c, r)
        case ("zorder", _) => () => z.knn(c, k, Seq("id"))
        case ("quadtree", "box") => () => q.boxRange(lo, hi)
        case ("quadtree", "circle") => () => q.circleRange(c, r)
        case ("quadtree", _) => () => q.knn(c, k, Seq("id"))
        case ("disk", "box") => () => SpatialDisk.boxRange(spark, disk, lo, hi)
        case ("disk", "circle") => () => SpatialDisk.circleRange(spark, disk, c, r)
        case ("disk", _) => () => SpatialDisk.knn(spark, disk, c, k, Seq("id"))
        case (_, "box") => () => src.boxRange(Seq("x", "y"), lo.toSeq, hi.toSeq)
        case (_, "circle") => () => src.circleRange(Seq("x", "y"), c.toSeq, r)
        case _ => () => src.knn(Seq("x", "y"), c.toSeq, k, Seq("id"))
      }
      val check: Array[Row] => Option[String] = verb match {
        case "box" => expect(ref.box(lo, hi, onDisk))
        case "circle" => expect(ref.circle(c, r, onDisk))
        case _ => expect(ref.knn(c, k, onDisk))
      }
      // pruning the index layer decided, for the query's bounding box
      val attrs: Map[String, Double] => Map[String, Double] = pa =>
        if (verb == "knn") Map.empty
        else path match {
          case "zorder" => val (h, t) = z.prunedPartitionCount(lo, hi)
            Map("partitions_read" -> h.toDouble, "partitions_total" -> t.toDouble)
          case "quadtree" => val (h, t) = q.prunedLeafCount(lo, hi)
            Map("partitions_read" -> h.toDouble, "partitions_total" -> t.toDouble)
          case "disk" => Map("partitions_read" -> pa("files_read"), "partitions_total" -> dataFiles)
          case _ =>
            if (pa("cache_read") > 0) Map("partitions_read" -> 1.0, "partitions_total" -> 1.0)
            else Map("partitions_read" -> pa("files_read"), "partitions_total" -> Gen.Files.toDouble)
        }
      Op(s"${verb}_$path", "lookup_read", build, fingerprint, collect, check, attrs)
    }

    private def batch(t: String, b: Int): DataFrame =
      spark.read.parquet(s"$dir/$t").filter(col("batch") === b).drop("batch")

    private def write(append: Boolean): Op = {
      val b = if (append) appends else deletes
      if (append) appends += 1 else deletes += 1
      val build: () => DataFrame = () => {
        if (append) SpatialDisk.append(batch("appends", b), disk)
        else SpatialDisk.deleteAt(spark, disk, batch("deletes", b), "id")
        spark.emptyDataFrame
      }
      // the reference follows the layout once the write has run; reads
      // on the disk path are checked against it
      val check: Array[Row] => Option[String] = _ => {
        if (append) ref.appended ++= extra.slice(b * Batch, (b + 1) * Batch)
        else delIds.slice(b * Batch, (b + 1) * Batch).foreach(i => ref.alive(i.toInt) = false)
        None
      }
      Op(if (append) "append" else "delete_at", "lookup_write", build, identity, _ => Array.empty[Row],
        check)
    }

    private val paths = Runner.Paths
    private val verbs = Seq("box", "circle", "knn")
    private val ks = Seq(1, 10, 100)
    /** A read from size stratum `s`: box sides (circle diameters) in
      * 15 * 10^s .. 150 * 10^s, k = 1, 10 or 100; the centre is random. */
    private def stratumRead(rng: Gen.Rng, path: String, verb: String, s: Int): Op =
      read(path, verb, Array(rng.uniform(0, Gen.Extent), rng.uniform(0, Gen.Extent)),
        rng.logUniform(15 * math.pow(10, s), 150 * math.pow(10, s)), ks(s))

    def warmOps(): Seq[Op] = {
      val rng = new Gen.Rng(seed ^ 0x5eedL)
      for (((p, v), i) <- (for (p <- paths; v <- verbs) yield (p, v)).zipWithIndex)
        yield stratumRead(rng, p, v, i % 3)
    }

    val checkEveryOp = true
    val knnClasses: Set[String] = paths.map(p => s"knn_$p").toSet
    private val stream = new Gen.Rng(seed * 31 + 7)
    private var pending: Option[(Double, Double)] = None
    private var issued = 0
    private var cycle = -1
    private val order = ArrayBuffer[(String, String)]()

    /** The stream's mix is fixed: every tenth operation writes (appends
      * and deletes alternate), and the reads cycle through all twelve
      * (path, verb) classes in a freshly shuffled order. Cycle c draws
      * its sizes and k from stratum c mod 3, so every class sees each
      * stratum once per three cycles. The phase ends once the run length
      * is used, after a whole number of such triples. */
    def nextOp(elapsed: Double, seconds: Double): Option[Op] = {
      // bytes and files the previous write added to the layout
      pending.foreach { case (b0, f0) =>
        val (b1, f1) = dirBytesFiles
        stats("written_bytes") += b1 - b0
        stats("written_files") += f1 - f0
        stats("user_bytes") += Batch * 24.0
        stats("writes") += 1
      }
      pending = None
      if (elapsed >= seconds && order.isEmpty && cycle % 3 == 2) return None
      issued += 1
      if (issued % WriteEvery == 0 && deletes < Batches) {
        pending = Some(dirBytesFiles)
        Some(write(append = appends <= deletes))
      } else {
        if (order.isEmpty) {
          cycle += 1
          order ++= (for (p <- paths; v <- verbs) yield (p, v))
          stream.shuffle(order)
        }
        val (p, v) = order.remove(order.length - 1)
        Some(stratumRead(stream, p, v, cycle % 3))
      }
    }

    override def writeStats: Map[String, Double] = stats.toMap
    def truth: Map[String, Double] = Map(
      "cluster_share" -> ClusteredShare, "rows" -> Rows.toDouble, "write_share" -> 1.0 / WriteEvery)
    override def close(): Unit = {
      IndexManager.dropIndex(spark, "lookup_z")
      IndexManager.dropIndex(spark, "lookup_q")
    }
  }
}
