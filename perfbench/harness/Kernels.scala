package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BloomExpressions, BpeExpressions, SketchExpressions,
  VectorExpressions}

/** Per-row cost of the custom Catalyst kernels with no scheduler
  * involved: each kernel is evaluated through a codegen'd
  * `UnsafeProjection` over fixed, seeded in-memory rows. */
object Kernels {
  private val Vocab = ("key agg row scan slow fast table value part hash " +
    "batch window spark order data column join small line customer query " +
    "merge filter group sort stream big the a").split(" ")
  private val Rows = 2000
  private val Dim = 64
  private val Centroids = 64

  private val strArr = ArrayType(StringType, containsNull = true)
  private val fltArr = ArrayType(FloatType, containsNull = true)
  private val centType = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("v", fltArr))))

  private def strings(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  private def floats(r: java.util.Random) =
    new GenericArrayData(Array.fill[Any](Dim)(r.nextGaussian().toFloat))

  /** Columns: 0 tokens, 1 word-3 shingles, 2 vector, 3 query vector,
    * 4 centroids, 5 bloom bitmap, 6 probe word, 7 symbols of a word. */
  private def rows(seed: Long): Array[InternalRow] = {
    val r = new java.util.Random(seed)
    val cents = new GenericArrayData(Array.tabulate[Any](Centroids)(c =>
      new GenericInternalRow(Array[Any](c.toLong, floats(r)))))
    val bits = new GenericArrayData(
      (BloomExpressions.headerWord(4) +: Array.fill(1024)(r.nextLong()))
        .map(x => x: Any))
    Array.fill(Rows) {
      val toks = Seq.fill(40 + r.nextInt(60))(Vocab(r.nextInt(Vocab.length)))
      val word = toks(r.nextInt(toks.size)) + toks(r.nextInt(toks.size))
      new GenericInternalRow(Array[Any](
        strings(toks), strings(toks.sliding(3).map(_.mkString(" ")).toSeq),
        floats(r), floats(r), cents, bits, UTF8String.fromString(word),
        strings(word.map(_.toString))))
    }
  }

  private def merges(seed: Long): Seq[(String, String)] = {
    val r = new java.util.Random(seed)
    val syms = scala.collection.mutable.ArrayBuffer(
      ('a' to 'z').map(_.toString): _*)
    Seq.fill(500) {
      val m = (syms(r.nextInt(syms.size)), syms(r.nextInt(syms.size)))
      syms += m._1 + m._2
      m
    }
  }

  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  def kernels(seed: Long): Seq[(String, Expression)] = Seq(
    "minhash_sig" -> SketchExpressions.MinHashSigExpr(ref(1, strArr), 64),
    "simhash32" -> SketchExpressions.SimHash32Expr(ref(0, strArr)),
    "bottomk_shingle_hashes" ->
      SketchExpressions.BottomKShingleHashesExpr(ref(0, strArr), 3, 64),
    "word_shingles" -> SketchExpressions.WordShinglesExpr(ref(0, strArr), 3),
    "feature_bucket_counts" ->
      SketchExpressions.FeatureBucketCountsExpr(ref(0, strArr)),
    "bpe_encode" -> BpeExpressions.BpeEncodeExpr(ref(7, strArr), merges(seed)),
    "vec_sqdist" -> VectorExpressions.VecSqDistExpr(ref(2, fltArr), ref(3, fltArr)),
    "ivf_argmin" ->
      VectorExpressions.VecArgminCentroidExpr(ref(2, fltArr), ref(4, centType)),
    "bloom" -> BloomExpressions.BloomMightContainExpr(
      ref(5, ArrayType(LongType)), ref(6, StringType)))

  /** Adds one `kernel` record per kernel: ns per row over `Rows` rows,
    * the median of five timed sweeps after two warm-up sweeps. */
  def run(seed: Long = 42L): Unit = {
    val input = rows(seed)
    kernels(seed).foreach { case (name, e) =>
      val proj = UnsafeProjection.create(Seq(e))
      def sweep(): Long = {
        val t = System.nanoTime()
        var i = 0
        while (i < input.length) { proj(input(i)); i += 1 }
        System.nanoTime() - t
      }
      sweep(); sweep()
      val ns = Seq.fill(5)(sweep()).sorted.apply(2)
      TraceStore.add(s"""{"kind":"kernel","name":"$name","rows":${input.length},""" +
        f""""ns_per_row":${ns.toDouble / input.length}%.1f}""")
    }
  }
}
