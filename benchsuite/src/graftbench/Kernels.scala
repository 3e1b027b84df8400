package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.functions.{TextKernels, VectorKernels}
import graft.spatial.{MBR, Point, Polygon, Shape, ShapeCodec}

/** Single-threaded, warm timings of the spatial and text/vector kernels
  * in nanoseconds per call, on inputs drawn by the workloads' own
  * generators from the run's seed. */
object Kernels {
  /** ns per call: the repetition count doubles until one batch takes
    * 5 ms (which also warms the JIT), then the median of five batches. */
  private def time(calls: Int)(body: => Double): Double = {
    var sink = 0.0
    var reps = 1
    def batch(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { sink += body; i += 1 }
      (System.nanoTime() - t0).toDouble
    }
    while (batch() < 5e6 && reps < (1 << 20)) reps *= 2
    val perCall = Seq.fill(5)(batch() / reps / calls)
    if (sink.isNaN) System.err.println("kernel sink is NaN") // keeps results live
    Runner.median(perCall)
  }

  def measure(seed: Long): Seq[(String, Double)] = {
    val rng = new Gen.Rng(seed ^ 0x6b65726eL)
    val n = 2000
    val pts = Array.fill(n)(Point(rng.uniform(0, Gen.Extent), rng.uniform(0, Gen.Extent)))
    def shapes(rows: Seq[org.apache.spark.sql.Row]) = rows.map { r =>
      val s = r.getStruct(1)
      (s.getInt(0), s.getSeq[Double](1).toArray)
    }.toArray
    val boxEnc = shapes(Join.boxes(rng, n, 0L, 50, 150))
    val diaEnc = shapes(Join.diamonds(rng, n, 0L))
    val boxes = boxEnc.map { case (t, c) => ShapeCodec.decode(t, c).asInstanceOf[MBR] }
    val dias = diaEnc.map { case (t, c) => ShapeCodec.decode(t, c).asInstanceOf[Polygon] }
    def pairs(f: Int => Double): Double = { var s = 0.0; var i = 0; while (i < n) { s += f(i); i += 1 }; s }
    def b(x: Boolean) = if (x) 1.0 else 0.0
    val q = pts.reverse
    val mixed = boxEnc ++ diaEnc ++ pts.map(p => (ShapeCodec.TagPoint, p.coord))

    val (docs, _, _) = Corpus.docs(rng, 400)
    val texts = docs.map(_.text)
    def perDoc(f: String => Int): Double = { var s = 0; texts.foreach(t => s += f(t)); s.toDouble }
    val vecs = Corpus.vectors(rng, 400)._1.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val vq = vecs.reverse
    def perPair(f: Int => Double): Double = { var s = 0.0; var i = 0; while (i < vecs.length) { s += f(i); i += 1 }; s }

    Seq(
      "spatial.point_mindist_ns" -> time(n)(pairs(i => pts(i).minDist(q(i): Shape))),
      "spatial.mbr_mindist_ns" -> time(n)(pairs(i => boxes(i).minDist(q(i): Shape))),
      "spatial.polygon_mindist_ns" -> time(n)(pairs(i => dias(i).minDist(q(i): Shape))),
      "spatial.point_intersects_ns" -> time(n)(pairs(i => b(pts(i).intersects(boxes(i): Shape)))),
      "spatial.mbr_intersects_ns" -> time(n)(pairs(i => b(boxes(i).intersects(boxes(n - 1 - i): Shape)))),
      "spatial.polygon_intersects_ns" -> time(n)(pairs(i => b(dias(i).intersects(boxes(i): Shape)))),
      "spatial.shapecodec_decode_ns" -> time(mixed.length)(
        mixed.map { case (t, c) => ShapeCodec.decode(t, c).dimensions }.sum.toDouble),
      "functions.tokenize_ns" -> time(texts.length)(perDoc(TextKernels.tokenize(_).length)),
      "functions.minhash_sig_ns" -> time(texts.length)(perDoc(TextKernels.minHashSig(_, 3, 64, 42L).length)),
      "functions.shingle_set_ns" -> time(texts.length)(perDoc(TextKernels.shingleSet(_, 3).length)),
      "functions.l2f_ns" -> time(vecs.length)(perPair(i => VectorKernels.l2F(vecs(i), vq(i)))),
      "functions.cosinef_ns" -> time(vecs.length)(perPair(i => VectorKernels.cosineF(vecs(i), vq(i)))))
  }
}
