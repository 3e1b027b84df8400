package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SpatialOps._
import graft.spatial.{Point, Polygon, ShapeCodec}

/** `join`: batch spatial joins over seeded parquet inputs. Each of the
  * ten operations is repeated in rounds until the run length is used;
  * every op carries real work in plan build (samplers, radius probes,
  * checkpoints) or in execution (replication, candidates, refine). */
object Join extends Workload {
  val name = "join"
  val Rows = 2000      // rows per side
  val Sample = 150         // left keys checked against the reference
  val K = 5
  val Radius = 60.0
  val DtMillis = 2L * 3600 * 1000
  val Day = 24L * 3600 * 1000

  def boxes(rng: Gen.Rng, n: Int, firstId: Long, lo: Double, hi: Double): Seq[Row] =
    (0 until n).map { i =>
      val (x, y) = (rng.uniform(0, Gen.Extent), rng.uniform(0, Gen.Extent))
      val (w, h) = (rng.uniform(lo, hi), rng.uniform(lo, hi))
      Row(firstId + i, Row(ShapeCodec.TagMBR, Seq(x - w / 2, y - h / 2, x + w / 2, y + h / 2)))
    }

  def diamonds(rng: Gen.Rng, n: Int, firstId: Long): Seq[Row] =
    (0 until n).map { i =>
      val (x, y) = (rng.uniform(0, Gen.Extent), rng.uniform(0, Gen.Extent))
      val (a, b) = (rng.uniform(20, 60), rng.uniform(5, 15))
      Row(firstId + i, Row(ShapeCodec.TagPolygon, Seq(x - a, y, x, y - b, x + a, y, x, y + b)))
    }

  private def shapeSchema(id: String, c: String) = StructType(Seq(
    StructField(id, LongType, nullable = false), StructField(c, Gen.shapeType, nullable = false)))

  private def pointsSchema(p: String, dims: Int) = StructType(
    StructField(s"${p}id", LongType, nullable = false) +:
      (0 until dims).map(d => StructField(s"$p${"xyzw" (d)}", DoubleType, nullable = false)))

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val rng = new Gen.Rng(seed)
    val t0 = System.nanoTime()
    val tables = scala.collection.mutable.LinkedHashMap[String, String]()
    def put(t: String, rows: Seq[Row], schema: StructType): Unit = {
      tables(t) = s"$dir/$t"
      Gen.write(spark, rows, schema, s"$dir/$t")
    }
    def pts(p: String, arr: Array[(Long, Double, Double)]) =
      put(s"pts_$p", Gen.pointRows(arr), pointsSchema(p, 2))
    pts("l", Gen.mixedPoints(rng, Rows, 0L, 0.0, 1, 1.0))
    pts("r", Gen.mixedPoints(rng, Rows, 0L, 0.0, 1, 1.0))
    // 80/20 skew: four of five rows in one dense cluster
    for (p <- Seq("l", "r"))
      put(s"skew_$p", Gen.pointRows(Gen.mixedPoints(rng, Rows, 0L, 0.8, 1, 15.0)), pointsSchema(p, 2))
    for (p <- Seq("l", "r"))
      put(s"p4_$p", (0 until Rows).map(i =>
        Row(i.toLong +: Seq.fill(4)(rng.uniform(0, 1000.0)): _*)), pointsSchema(p, 4))
    // left boxes span about 10x the right boxes
    put("box_l", boxes(rng, Rows, 0L, 50, 150), shapeSchema("lid", "lshape"))
    put("box_r", boxes(rng, Rows, 0L, 5, 15), shapeSchema("rid", "rshape"))
    put("dia_l", diamonds(rng, Rows, 0L), shapeSchema("lid", "lshape"))
    for (p <- Seq("l", "r"))
      put(s"ev_$p", (0 until Rows).map(i => Row(i.toLong, rng.uniform(0, Gen.Extent),
        rng.uniform(0, Gen.Extent), new java.sql.Timestamp(1700000000000L + (rng.double() * Day).toLong))),
        StructType(pointsSchema(p, 2).fields :+ StructField(s"${p}ts", TimestampType, nullable = false)))
    val tWrite = (System.nanoTime() - t0) / 1e9
    val sample = {
      val ids = scala.collection.mutable.ArrayBuffer.tabulate(Rows)(_.toLong)
      rng.shuffle(ids)
      ids.take(Sample).toSeq
    }
    new JoinInstance(spark, tables.toMap, sample, Gen.checksum(tables.values.toSeq), tWrite)
  }

  final class JoinInstance(spark: SparkSession, t: Map[String, String], sample: Seq[Long],
                           val checksum: String, tWrite: Double) extends Instance {
    // each input is opened once, so a verb's build span holds only the
    // verb's own work, not schema discovery
    private val frames = t.map { case (n, p) => n -> spark.read.parquet(p) }
    private def read(n: String): DataFrame = frames(n)
    private def ptShape(df: DataFrame): DataFrame =
      df.select(col("rid"), struct(lit(ShapeCodec.TagPoint).as("tag"),
        array(col("rx"), col("ry")).as("coords")).as("rshape"))
    private val inSample: Column = col("lid").isin(sample: _*)
    private def dist(a: Seq[String], b: Seq[String]): Column =
      sqrt(a.zip(b).map { case (x, y) => (col(x) - col(y)) * (col(x) - col(y)) }.reduce(_ + _))
    private def boxPointDist: Column = {
      def gap(i: Int, p: String) = greatest(element_at(col("lshape.coords"), i) - col(p), lit(0.0),
        col(p) - element_at(col("lshape.coords"), i + 2))
      sqrt(gap(1, "rx") * gap(1, "rx") + gap(2, "ry") * gap(2, "ry"))
    }
    private def topK(pairs: DataFrame, k: Int): DataFrame =
      pairs.withColumn("__rn", row_number().over(
        Window.partitionBy(col("lid")).orderBy(col("__d"), col("rid"))))
        .filter(col("__rn") <= k)

    /** Pairs of the sampled left keys: the op's rows against a
      * cross-join reference restricted to the same keys. */
    private def pairCheck(ref: => DataFrame)(rows: Array[Row]): Option[String] = {
      val s = sample.toSet
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).filter(p => s(p._1)).toSet
      val want = ref.select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (got == want) None
      else Some(s"${(want -- got).size} reference pairs missing, ${(got -- want).size} extra")
    }

    private def knnOp(cls: String, lt: String, rt: String, dims: Int, auto: Boolean): Op = {
      val ks = (p: String) => (0 until dims).map(d => s"$p${"xyzw" (d)}")
      Op(cls, "knn_join", () => {
        val (l, r) = (read(lt), read(rt))
        if (!auto) {
          if (cls == "knn_join_grid") l.knnJoin(r, ks("l"), ks("r"), K, "lid", Seq("rid"))
          else l.knnJoinPivot(r, ks("l"), ks("r"), K, "lid", Seq("rid"))
        } else {
          spark.conf.set(graft.GraftConf.KnnJoinAlgo, "auto")
          try l.knnJoinAuto(r, ks("l"), ks("r"), K, "lid", "rid", Seq("rid"))
          finally spark.conf.unset(graft.GraftConf.KnnJoinAlgo)
        }
      }, pairs, collect, pairCheck(topK(read(lt).filter(inSample).crossJoin(read(rt))
        .withColumn("__d", dist(ks("l"), ks("r"))), K)))
    }

    private val pairs = (df: DataFrame) => df.select("lid", "rid")
    private val collect = (df: DataFrame) => df.collect()

    private val ops: Seq[Op] = Seq(
      Op("distance_join", "point_join",
        () => read("pts_l").distanceJoin(read("pts_r"), Seq("lx", "ly"), Seq("rx", "ry"), Radius),
        pairs, collect, pairCheck(read("pts_l").filter(inSample).crossJoin(read("pts_r"))
          .filter(dist(Seq("lx", "ly"), Seq("rx", "ry")) <= Radius))),
      Op("spatiotemporal_join", "point_join",
        () => read("ev_l").spatioTemporalJoin(read("ev_r"), Seq("lx", "ly"), Seq("rx", "ry"),
          "lts", "rts", Radius, DtMillis),
        pairs, collect, pairCheck(read("ev_l").filter(inSample).crossJoin(read("ev_r"))
          .filter(dist(Seq("lx", "ly"), Seq("rx", "ry")) <= Radius &&
            abs(unix_millis(col("lts")) - unix_millis(col("rts"))) <= DtMillis))),
      knnOp("knn_join_grid", "pts_l", "pts_r", 2, auto = false),
      knnOp("knn_join_pivot", "pts_l", "pts_r", 2, auto = false),
      knnOp("knn_join_auto_skew", "skew_l", "skew_r", 2, auto = true),
      knnOp("knn_join_auto_4d", "p4_l", "p4_r", 4, auto = true),
      Op("shape_intersects_join", "shape_join",
        () => read("box_l").shapeIntersectsJoin(read("box_r"), "lshape", "rshape"),
        pairs, collect, pairCheck {
          def c(s: String, i: Int) = element_at(col(s"$s.coords"), i)
          read("box_l").filter(inSample).crossJoin(read("box_r")).filter(
            c("lshape", 1) <= c("rshape", 3) && c("rshape", 1) <= c("lshape", 3) &&
              c("lshape", 2) <= c("rshape", 4) && c("rshape", 2) <= c("lshape", 4))
        }),
      Op("shape_distance_join", "shape_join",
        () => read("box_l").shapeDistanceJoin(ptShape(read("pts_r")), "lshape", "rshape", Radius),
        pairs, collect, pairCheck(read("box_l").filter(inSample).crossJoin(read("pts_r"))
          .filter(boxPointDist <= Radius))),
      Op("polygon_distance_join", "shape_join",
        () => read("dia_l").polygonDistanceJoin(read("pts_r"), "lshape", Seq("rx", "ry"), Radius),
        pairs, collect, polygonCheck),
      Op("shape_knn_join", "shape_join",
        () => read("box_l").shapeKnnJoin(ptShape(read("pts_r")), "lshape", "rshape", 3,
          "lid", Seq("rid")),
        pairs, collect, pairCheck(topK(read("box_l").filter(inSample).crossJoin(read("pts_r"))
          .withColumn("__d", boxPointDist), 3))))

    /** Diamond-to-point distances on the driver, through the spatial
      * layer's own polygon kernel rather than the join's column kernel. */
    private def polygonCheck(rows: Array[Row]): Option[String] = {
      val polys = read("dia_l").filter(inSample).collect().map { r =>
        val c = r.getStruct(1).getSeq[Double](1)
        r.getLong(0) -> Polygon(Array.tabulate(c.length / 2)(i => Point(c(2 * i), c(2 * i + 1))))
      }
      val pts = read("pts_r").collect().map(r => (r.getLong(0), Point(r.getDouble(1), r.getDouble(2))))
      val want = (for ((l, poly) <- polys; (r, p) <- pts if poly.minDist(p) <= Radius) yield (l, r)).toSet
      val s = sample.toSet
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).filter(p => s(p._1)).toSet
      if (got == want) None
      else Some(s"${(want -- got).size} reference pairs missing, ${(got -- want).size} extra")
    }

    def truth: Map[String, Double] = Map(
      // planted shares: the two skewed tables put 80% of their rows in
      // one dense cluster; one of the ten operations joins 4-D points
      "cluster_share" -> 0.8 * 2 / t.size,
      "skew_dense_share" -> 0.8,
      "d_gt3_op_share" -> ops.count(_.cls.endsWith("_4d")).toDouble / ops.size,
      "rows_per_side" -> Rows.toDouble)
    def setupParts: Map[String, Double] = Map("write_inputs" -> tWrite)
    // one round takes most of a run, so the warm-up is only the
    // cheapest operation, which pays the engine's first-query costs
    def warmOps(): Seq[Op] = ops.filter(_.cls == "distance_join")
    val checkEveryOp = false
    val knnClasses: Set[String] = ops.filter(_.group == "knn_join").map(_.cls).toSet

    private val rounds = new Rounds(ops)
    def nextOp(elapsed: Double, seconds: Double): Option[Op] = rounds.next(elapsed, seconds)
  }
}
