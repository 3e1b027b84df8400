package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextKernels
import graft.operators.CorpusOps._
import graft.operators.DedupOps._
import graft.operators.GraphOps
import graft.operators.VectorOps._

/** `corpus`: text, vector and graph verbs over a seeded corpus with
  * planted duplicates, near-duplicates, shared boilerplate, clustered
  * embeddings with planted near-copies, and a power-law edge table. */
object Corpus extends Workload {
  val name = "corpus"
  val Docs = 1200
  val Topics = 16
  val Vocab = 4000
  val Vecs = 1200
  val Dim = 64
  val Centers = 16
  val Nodes = 1500
  val Edges = 6000
  val DupShare = 0.05
  val NearShare = 0.05
  val BoilerShare = 0.25
  val VecSample = 100
  val MinHashT = 0.8
  val NgramT = 0.8
  val SemT = 0.98

  final case class Doc(id: Long, topic: Int, text: String)

  /** Zipf-vocabulary documents of 50-600 characters; a share of them
    * end in one of a few shared boilerplate sentences; later documents
    * may be planted copies (case and punctuation changed, so equal only
    * after normalisation) or near-copies (one word in 25 replaced).
    * Returns the documents and the planted (original, copy) pairs. */
  def docs(rng: Gen.Rng, n: Int): (Array[Doc], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val zipf = new Gen.Zipf(Vocab, 1.1)
    def words(chars: Int): ArrayBuffer[String] = {
      val out = ArrayBuffer[String]()
      var len = 0
      while (len < chars) { val w = Gen.word(zipf.sample(rng)); out += w; len += w.length + 1 }
      out
    }
    val boiler = Array.fill(8)(words(70).mkString(" "))
    val out = ArrayBuffer[Doc]()
    val dups = ArrayBuffer[(Long, Long)]()
    val nears = ArrayBuffer[(Long, Long)]()
    for (i <- 0 until n) {
      val u = rng.double()
      if (i > 10 && u < DupShare) {
        val o = out(rng.int(out.length))
        val ws = o.text.split(" ").zipWithIndex.map { case (w, j) =>
          val c = if (j % 3 == 0) w.capitalize else w
          if (j % 5 == 4) c + "," else c
        }
        out += Doc(i, o.topic, ws.mkString(" ") + "!")
        dups += ((o.id, i.toLong))
      } else if (i > 10 && u < DupShare + NearShare) {
        val o = out(rng.int(out.length))
        val ws = o.text.split(" ")
        for (_ <- 0 to ws.length / 25) ws(rng.int(ws.length)) = Gen.word(zipf.sample(rng))
        out += Doc(i, o.topic, ws.mkString(" "))
        nears += ((o.id, i.toLong))
      } else {
        val body = words(rng.uniform(50, 520).toInt).mkString(" ")
        val text = if (rng.double() < BoilerShare) body + " " + boiler(rng.int(boiler.length)) else body
        out += Doc(i, rng.int(Topics), text)
      }
    }
    (out.toArray, dups.toSeq, nears.toSeq)
  }

  /** Clustered embeddings with planted near-copies. */
  def vectors(rng: Gen.Rng, n: Int): (Array[Array[Float]], Seq[(Long, Long)]) = {
    val centers = Array.fill(Centers)(Array.fill(Dim)(rng.gaussian()))
    val out = ArrayBuffer[Array[Float]]()
    val nears = ArrayBuffer[(Long, Long)]()
    for (i <- 0 until n) {
      if (i > 10 && rng.double() < DupShare) {
        val o = rng.int(out.length)
        out += out(o).map(x => (x + 0.01 * rng.gaussian()).toFloat)
        nears += ((o.toLong, i.toLong))
      } else {
        val c = centers(rng.int(Centers))
        out += c.map(x => (x + 0.35 * rng.gaussian()).toFloat)
      }
    }
    (out.toArray, nears.toSeq)
  }

  def setup(spark: SparkSession, dir: String, seed: Long): Instance = {
    val rng = new Gen.Rng(seed)
    val t0 = System.nanoTime()
    val (ds, dups, nears) = docs(rng, Docs)
    Gen.write(spark, ds.toSeq.map(d => Row(d.id, d.topic, d.text)), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("topic", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false))), s"$dir/docs")
    val (vs, vnears) = vectors(rng, Vecs)
    Gen.write(spark, vs.toSeq.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) },
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))),
      s"$dir/emb")
    // power-law co-occurrence: both endpoints Zipf-distributed over a
    // seeded node permutation, self-loops and repeats dropped
    val zipf = new Gen.Zipf(Nodes, 1.0)
    val perm = ArrayBuffer.tabulate(Nodes)(_.toLong)
    rng.shuffle(perm)
    val edges = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    for (_ <- 0 until Edges) {
      val (a, b) = (perm(zipf.sample(rng)), perm(zipf.sample(rng)))
      if (a != b) edges += ((a, b))
    }
    Gen.write(spark, edges.toSeq.map { case (a, b) => Row(a, b) }, StructType(Seq(
      StructField("src", LongType, nullable = false), StructField("dst", LongType, nullable = false))),
      s"$dir/edges")
    val tWrite = (System.nanoTime() - t0) / 1e9
    val terms = Seq.fill(4)(Gen.word(50 + rng.int(450))).distinct
    val vsample = ArrayBuffer.tabulate(Vecs)(_.toLong)
    rng.shuffle(vsample)
    new CorpusInstance(spark, dir, ds, dups, nears, vs, vnears, edges.toSeq, terms,
      vsample.take(VecSample).toSeq,
      Gen.checksum(Seq("docs", "emb", "edges").map(t => s"$dir/$t")), tWrite)
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  final class CorpusInstance(spark: SparkSession, dir: String, ds: Array[Doc],
                             dups: Seq[(Long, Long)], nears: Seq[(Long, Long)],
                             vs: Array[Array[Float]], vnears: Seq[(Long, Long)],
                             edges: Seq[(Long, Long)], terms: Seq[String], vsample: Seq[Long],
                             val checksum: String, tWrite: Double) extends Instance {
    // each input is opened once, so a verb's build span holds only the
    // verb's own work, not schema discovery
    private val docsDf = spark.read.parquet(s"$dir/docs")
    private val emb = spark.read.parquet(s"$dir/emb")
    private val edgesDf = spark.read.parquet(s"$dir/edges")
    private lazy val shingles: Map[Long, Array[Long]] =
      ds.map(d => d.id -> TextKernels.shingleSet(d.text, 3)).toMap
    private val collect = (df: DataFrame) => df.collect()
    private def cols(cs: String*) = (df: DataFrame) => df.select(cs.map(col): _*)
    private def pairsOf(rows: Array[Row]): Set[(Long, Long)] =
      rows.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    private def diff[A](what: String, got: Set[A], want: Set[A]): Option[String] =
      if (got == want) None
      else Some(s"$what: ${(want -- got).size} missing, ${(got -- want).size} extra")

    /** Approximate pair verbs: every reported pair must truly pass the
      * threshold, and the planted pairs that pass it with a margin must
      * all be found. */
    private def plantedCheck(rows: Array[Row], planted: Seq[(Long, Long)],
                             sim: (Long, Long) => Double, t: Double, sure: Double): Option[String] = {
      val got = pairsOf(rows)
      val bad = got.count { case (a, b) => sim(a, b) < t - 1e-9 }
      val must = planted.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => sim(p._1, p._2) >= sure).toSet
      val missed = (must -- got).size
      if (bad > 0 || missed > 0) Some(s"$bad pairs under threshold, $missed of ${must.size} planted pairs missed")
      else None
    }

    private def docSim(a: Long, b: Long) = jaccard(shingles(a), shingles(b))
    private def cosine(a: Long, b: Long): Double = {
      val (x, y) = (vs(a.toInt), vs(b.toInt))
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- 0 until Dim) { dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      dot / math.sqrt(nx * ny)
    }

    private def componentsCheck(rows: Array[Row]): Option[String] = {
      val parent = scala.collection.mutable.Map[Long, Long]().withDefault(identity)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for ((_, g) <- ds.groupBy(_.topic); i <- g.indices; j <- i + 1 until g.length
           if docSim(g(i).id, g(j).id) >= NgramT) {
        val (a, b) = (find(g(i).id), find(g(j).id))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val want = ds.map(d => d.id -> find(d.id)).toSet
      diff("components", rows.map(r => r.getLong(0) -> r.getLong(1)).toSet, want)
    }

    private def bm25Check(rows: Array[Row]): Option[String] = {
      val toks = ds.map(d => d.id -> d.text.trim.split("\\s+").filter(_.nonEmpty))
      val n = toks.length.toDouble
      val avgdl = toks.map(_._2.length.toLong).sum.toDouble / toks.length.toDouble
      val idf = terms.map { t => val df = toks.count(_._2.contains(t)).toDouble; (n - df + 0.5) / (df + 0.5) }
      val (k1, b) = (1.2, 0.75)
      val scored = toks.map { case (id, ts) =>
        val dl = ts.length.toDouble
        id -> terms.indices.map { i =>
          val tf = ts.count(_ == terms(i)).toDouble
          idf(i) * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        }.reduce(_ + _)
      }.filter(_._2 > 0.0).sortBy { case (id, s) => (-s, id) }.take(20)
      val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val same = got.length == scored.length && got.zip(scored).forall { case ((a, x), (b, y)) =>
        a == b && math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      }
      if (same) None else Some(s"bm25 top-k differs from the driver-side scoring")
    }

    private def pageRankCheck(rows: Array[Row]): Option[String] = {
      val mass = 1000000000000000L
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val n = nodes.size.toLong
      def damp(x: Long, num: Int): Long = (x / 20) * num + ((x % 20) * num) / 20
      val init = mass / n
      val teleport = damp(init, 3)
      var rank = nodes.map(_ -> init).toMap
      for (_ <- 0 until 3) {
        val dang = nodes.filterNot(deg.contains).map(rank).sum
        val in = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => rank(e._1) / deg(e._1)).sum }
        rank = nodes.map(v => v -> (teleport + damp(in.getOrElse(v, 0L) + dang / n, 17))).toMap
      }
      diff("ranks", rows.map(r => r.getLong(0) -> r.getLong(1)).toSet, rank.toSet)
    }

    private def trianglesCheck(rows: Array[Row]): Option[String] = {
      val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val e = spark.createDataFrame(und).toDF("a", "b")
      val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val want = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      diff("triangles", rows.map(r => r.getLong(0) -> r.getLong(1)).filter(_._2 > 0).toSet, want)
    }

    private def boilerRef: Set[(Long, Long, Long)] = {
      val toks = split(trim(col("text")), "[ \\t\\n\\r]+")
      val grams = docsDf.select(col("doc_id"), explode(array_distinct(
        when(size(toks) >= 8, transform(sequence(lit(0), size(toks) - 8),
          i => array_join(slice(toks, i + 1, lit(8)), " "))).otherwise(array().cast("array<string>"))))
        .as("gram"))
      val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      grams.join(df, "gram").groupBy("doc_id")
        .agg(count(lit(1)).as("t"), count(when(col("df") >= 2, lit(1))).as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

    private val ops: Seq[Op] = Seq(
      Op("minhash_pairs", "dedup",
        () => docsDf.minHashPairs("doc_id", "text", 3, 64, 16, MinHashT),
        cols("id1", "id2"), collect, plantedCheck(_, dups ++ nears, docSim, MinHashT, 0.9)),
      Op("ngram_components", "dedup",
        () => {
          val d = docsDf
          d.nearDupComponents("doc_id", d.ngramJaccardPairs("doc_id", "text", Seq(col("topic")), 3, NgramT))
        }, cols("doc_id", "component"), collect, componentsCheck),
      Op("exact_dedup", "dedup",
        () => docsDf.withColumn("norm", graft.functions.normalizeText(col("text")))
          .exactDedup("norm", "doc_id"),
        cols("doc_id"), collect, rows => diff("kept ids", rows.map(_.getLong(0)).toSet,
          docsDf.groupBy(graft.functions.normalizeText(col("text"))).agg(min("doc_id"))
            .collect().map(_.getLong(1)).toSet)),
      Op("semantic_dedup", "dedup",
        () => emb.semanticDedupPairs("embedding", "vec_id", Centers, SemT),
        cols("id1", "id2"), collect, plantedCheck(_, vnears, cosine, SemT, 0.995)),
      Op("boilerplate_score", "text",
        () => docsDf.boilerplateScore("doc_id", "text", 8, 2L),
        cols("doc_id", "total_grams", "boilerplate_grams"), collect,
        rows => diff("scores", rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet, boilerRef)),
      Op("bm25_topk", "text",
        () => docsDf.bm25TopK("doc_id", "text", terms, 20),
        cols("doc_id", "score"), collect, bm25Check),
      Op("knn_join_vec", "vector",
        () => emb.select("vec_id", "embedding").knnJoinVec(
          emb.select(col("vec_id").as("vec_id2"), col("embedding").as("embedding2")),
          "embedding", "embedding2", "vec_id", 5, Seq("vec_id2")),
        cols("vec_id", "vec_id2"), collect, rows => {
          val s = vsample.toSet
          val dbl = (c: String) => transform(col(c), x => x.cast("double"))
          val d = sqrt(aggregate(zip_with(dbl("embedding"), dbl("embedding2"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x))
          val want = emb.filter(col("vec_id").isin(vsample: _*)).crossJoin(
            emb.select(col("vec_id").as("vec_id2"), col("embedding").as("embedding2")))
            .withColumn("__d", d)
            .withColumn("__rn", row_number().over(
              Window.partitionBy("vec_id").orderBy(col("__d"), col("vec_id2"))))
            .filter(col("__rn") <= 5).collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("vec_id2"))).toSet
          diff("neighbours", rows.map(r => (r.getLong(0), r.getLong(1))).filter(p => s(p._1)).toSet, want)
        }),
      Op("pagerank", "graph", () => GraphOps.pageRank(edgesDf, "src", "dst", 3),
        cols("node", "rank"), collect, pageRankCheck),
      Op("triangles", "graph", () => GraphOps.triangleCounts(edgesDf, "src", "dst"),
        cols("node", "triangles"), collect, trianglesCheck))

    override def planted: Seq[(String, Seq[(Long, Long)])] = Seq(
      "duplicate_pairs" -> dups, "near_duplicate_pairs" -> nears, "vector_near_copy_pairs" -> vnears)
    def truth: Map[String, Double] = Map(
      "duplicate_share" -> dups.size.toDouble / ds.length,
      "near_duplicate_share" -> nears.size.toDouble / ds.length,
      "vector_near_copy_share" -> vnears.size.toDouble / vs.length,
      "edges" -> edges.size.toDouble)
    def setupParts: Map[String, Double] = Map("write_inputs" -> tWrite)
    // one round takes most of a run, so the warm-up is only the
    // cheapest operation, which pays the engine's first-query costs
    def warmOps(): Seq[Op] = ops.filter(_.cls == "bm25_topk")
    val checkEveryOp = false
    val knnClasses: Set[String] = Set("knn_join_vec")

    private val rounds = new Rounds(ops)
    def nextOp(elapsed: Double, seconds: Double): Option[Op] = rounds.next(elapsed, seconds)
  }
}
