package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom AGGREGATE functions (§2.11 beyond scalar expressions).
  *
  * `TypedImperativeAggregate` is the Catalyst contract for aggregates
  * whose state is an arbitrary JVM object: Spark calls
  * update/merge/serialize on it exactly like a built-in, so the
  * aggregate is MERGEABLE — partials combine map-side per partition,
  * then across the shuffle — which is the property that matters at
  * 100 TB (re-aggregation over days/shards without re-scanning).
  */
object AggregateExpressions {

  /** Bottom-k distinct strings per group — the KMV (k-minimum-values)
    * distinct-count sketch. The buffer is a bounded TreeSet: update
    * inserts only when the value beats the current k-th minimum, so
    * state is O(k) regardless of group size, and merge is a k-way
    * union-trim (commutative, associative, idempotent — safe under
    * partial aggregation and AQE re-planning). Unlike HLL the output
    * is deterministic given the input SET: exactly the k smallest
    * distinct values — so it is exact-testable against any engine,
    * and the (k−1)/F(h_k) estimator derives from it declaratively. */
  case class BottomKStringsAgg(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[UTF8String]]
    with UnaryLike[Expression] {

    require(k > 0, "k must be positive")

    override def prettyName: String = "graft_bottom_k_strings"
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false

    // UTF8String's natural order IS UTF-8 byte order — the ordering
    // every other surface here uses (array_sort, DuckDB).
    // A TreeSet[String] would order by UTF-16 code units, which
    // diverges when supplementary-plane code points meet U+E000..FFFF
    // and would make "the k smallest distinct" engine-dependent.
    override def createAggregationBuffer(): java.util.TreeSet[UTF8String] =
      new java.util.TreeSet[UTF8String]()

    private def add(b: java.util.TreeSet[UTF8String], s: UTF8String): Unit =
      if (b.size < k) { b.add(s); () }
      else if (s.compareTo(b.last) < 0 && b.add(s)) { b.pollLast(); () }

    override def update(b: java.util.TreeSet[UTF8String],
                        input: InternalRow): java.util.TreeSet[UTF8String] = {
      val v = child.eval(input)
      // clone: the evaluated UTF8String may point into a reused row
      // buffer — storing it without a copy corrupts the set later
      if (v != null) add(b, v.asInstanceOf[UTF8String].clone())
      b
    }

    override def merge(b: java.util.TreeSet[UTF8String],
                       o: java.util.TreeSet[UTF8String])
        : java.util.TreeSet[UTF8String] = {
      o.forEach(s => add(b, s))
      b
    }

    override def eval(b: java.util.TreeSet[UTF8String]): Any = {
      val out = new Array[Any](b.size)
      var i = 0
      val it = b.iterator()
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }

    // LENGTH-PREFIXED framing: values are hex digests in practice,
    // but delimiter framing ('\n'-joined) silently SPLITS any value
    // containing the delimiter after a shuffle — the sketch would
    // report bogus minima only on multi-partition runs
    override def serialize(b: java.util.TreeSet[UTF8String]): Array[Byte] = {
      var total = 4
      b.forEach(s => total += 4 + s.numBytes())
      val buf = java.nio.ByteBuffer.allocate(total)
      buf.putInt(b.size)
      b.forEach { s =>
        val bytes = s.getBytes
        buf.putInt(bytes.length); buf.put(bytes)
      }
      buf.array()
    }

    override def deserialize(bytes: Array[Byte])
        : java.util.TreeSet[UTF8String] = {
      val b = new java.util.TreeSet[UTF8String]()
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val n = buf.getInt
      var i = 0
      while (i < n) {
        val len = buf.getInt
        val arr = new Array[Byte](len)
        buf.get(arr)
        b.add(UTF8String.fromBytes(arr))
        i += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(
        newOffset: Int): BottomKStringsAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): BottomKStringsAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): BottomKStringsAgg = copy(child = newChild)
  }

  /** Column entry point: bottom-k distinct values of `c` per group. */
  def bottomKStrings(c: Column, k: Int): Column =
    GraftColumnBridge.column(
      BottomKStringsAgg(GraftColumnBridge.expression(c), k)
        .toAggregateExpression())

  /** Misra–Gries heavy-hitter summary: at most `k` counters; GUARANTEES
    * every value with true frequency > n/k appears in the output
    * (candidates may include false positives — the caller verifies with
    * one exact counting pass over just the ≤k candidates). The buffer
    * is O(k) regardless of stream length, updates are amortized O(1)
    * (each decrement round is paid for by k prior inserts), and merge
    * is the Agarwal et al. "Mergeable Summaries" combine — sum counts,
    * then subtract the (k+1)-th largest and drop non-positives — which
    * preserves the guarantee under partial aggregation and AQE
    * re-planning. This is the 100 TB shape for "top terms": a full
    * groupBy(term) shuffles the whole vocabulary; MG ships k counters
    * per partition. */
  case class MisraGriesAgg(
      child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
    with UnaryLike[Expression] {

    require(k > 0, "k must be positive")

    override def prettyName: String = "graft_misra_gries"
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): java.util.HashMap[String, Long] =
      new java.util.HashMap[String, Long]()

    /** Keep only counts > the (k+1)-th largest; at most k survive. */
    private def trim(b: java.util.HashMap[String, Long]): Unit =
      if (b.size > k) {
        val counts = new Array[Long](b.size)
        var i = 0
        val vit = b.values().iterator()
        while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(counts)
        val d = counts(counts.length - 1 - k) // (k+1)-th largest
        val eit = b.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          if (e.getValue <= d) eit.remove()
          else e.setValue(e.getValue - d)
        }
      }

    override def update(b: java.util.HashMap[String, Long],
                        input: InternalRow)
        : java.util.HashMap[String, Long] = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.asInstanceOf[UTF8String].toString
        val cur: Long = b.getOrDefault(s, 0L)
        // counters are strictly positive in the map, so 0 ⇔ absent
        if (cur > 0L) { b.put(s, cur + 1L); () }
        else { b.put(s, 1L); trim(b) }
      }
      b
    }

    override def merge(b: java.util.HashMap[String, Long],
                       o: java.util.HashMap[String, Long])
        : java.util.HashMap[String, Long] = {
      val it = o.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        b.put(e.getKey, b.getOrDefault(e.getKey, 0L) + e.getValue)
      }
      trim(b)
      b
    }

    override def eval(b: java.util.HashMap[String, Long]): Any = {
      // sort in UTF-8 BYTE order (UTF8String's natural order) — the
      // ordering array_sort/DuckDB use; Java String order diverges on
      // supplementary-plane vs U+E000..FFFF keys
      val keys = new Array[UTF8String](b.size)
      var i = 0
      val kit = b.keySet().iterator()
      while (kit.hasNext) {
        keys(i) = UTF8String.fromString(kit.next()); i += 1
      }
      java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
      new GenericArrayData(keys.map(s => s: Any))
    }

    // LENGTH-PREFIXED framing: delimiter framing ('\t'/'\n') would
    // silently split or drop any counter whose KEY contains the
    // delimiter after a shuffle — breaking the freq > n/k no-miss
    // guarantee only on multi-partition runs
    override def serialize(b: java.util.HashMap[String, Long]): Array[Byte] = {
      var total = 4
      val sit = b.entrySet().iterator()
      val enc = new java.util.ArrayList[(Array[Byte], Long)](b.size)
      while (sit.hasNext) {
        val e = sit.next()
        val kb = e.getKey.getBytes(StandardCharsets.UTF_8)
        enc.add((kb, e.getValue))
        total += 4 + kb.length + 8
      }
      val buf = java.nio.ByteBuffer.allocate(total)
      buf.putInt(enc.size())
      enc.forEach { case (kb, v) =>
        buf.putInt(kb.length); buf.put(kb); buf.putLong(v)
      }
      buf.array()
    }

    override def deserialize(bytes: Array[Byte])
        : java.util.HashMap[String, Long] = {
      val b = new java.util.HashMap[String, Long]()
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val n = buf.getInt
      var i = 0
      while (i < n) {
        val len = buf.getInt
        val kb = new Array[Byte](len)
        buf.get(kb)
        b.put(new String(kb, StandardCharsets.UTF_8), buf.getLong)
        i += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(
        newOffset: Int): MisraGriesAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): MisraGriesAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): MisraGriesAgg = copy(child = newChild)
  }

  /** Column entry point: Misra–Gries heavy-hitter candidates (sorted
    * array of at most `k` values; superset of all values with
    * frequency > n/k). */
  def misraGries(c: Column, k: Int): Column =
    GraftColumnBridge.column(
      MisraGriesAgg(GraftColumnBridge.expression(c), k)
        .toAggregateExpression())

  /** Mutable moment state for [[VecCovarianceAgg]]: count, per-dim sums
    * and the upper triangle of Σxxᵀ (d(d+1)/2 doubles). */
  final class CovBuffer(val dim: Int) {
    var n: Long = 0L
    val sum: Array[Double] = new Array[Double](dim)
    val prod: Array[Double] = new Array[Double](dim * (dim + 1) / 2)
  }

  /** One-pass POPULATION covariance matrix over a numeric-vector
    * column — the embedding-space diagnostic behind anisotropy checks
    * and whitening for cosine retrieval. State is (n, Σx, upper
    * triangle of Σxxᵀ): O(d²) regardless of group size, so partials
    * combine map-side and across the shuffle like any built-in —
    * at 100 TB the corpus is scanned once and only d(d+1)/2+d+1
    * doubles per partition move. Output: the full symmetric d×d
    * matrix row-major (array<double>, cov(i,j) = Σxᵢxⱼ/n −
    * (Σxᵢ/n)(Σxⱼ/n)); null for an empty group. Vectors of the wrong
    * length throw — a silent skip would corrupt the statistic. */
  case class VecCovarianceAgg(
      child: Expression, dim: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CovBuffer]
    with UnaryLike[Expression] {

    require(dim > 0, "dim must be positive")

    override def prettyName: String = "graft_vec_covariance"
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true

    // Analysis-time rejection of non-vector inputs: anything outside
    // the whitelist would otherwise mis-read executor-side (e.g.
    // getInt on an 8-byte slot) and corrupt the statistic silently.
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_vec_covariance needs array<float|double|int|bigint>, " +
              s"got ${other.catalogString}")
      }

    @transient private lazy val elemType =
      child.dataType.asInstanceOf[ArrayType].elementType

    override def createAggregationBuffer(): CovBuffer = new CovBuffer(dim)

    override def update(b: CovBuffer, input: InternalRow): CovBuffer = {
      val v = child.eval(input)
      if (v != null) {
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(a.numElements() == dim,
          s"graft_vec_covariance: expected dim $dim, got ${a.numElements()}")
        val x = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          // a null ELEMENT would contribute 0.0 and skew the moments —
          // same stance as the wrong-length check: fail loudly
          require(!a.isNullAt(i),
            s"graft_vec_covariance: null element at index $i")
          x(i) = elemType match {
            case FloatType   => a.getFloat(i).toDouble
            case DoubleType  => a.getDouble(i)
            case IntegerType => a.getInt(i).toDouble
            case _           => a.getLong(i).toDouble
          }
          i += 1
        }
        b.n += 1
        var k = 0
        i = 0
        while (i < dim) {
          b.sum(i) += x(i)
          var j = i
          while (j < dim) { b.prod(k) += x(i) * x(j); j += 1; k += 1 }
          i += 1
        }
      }
      b
    }

    override def merge(b: CovBuffer, o: CovBuffer): CovBuffer = {
      b.n += o.n
      var i = 0
      while (i < dim) { b.sum(i) += o.sum(i); i += 1 }
      i = 0
      while (i < b.prod.length) { b.prod(i) += o.prod(i); i += 1 }
      b
    }

    override def eval(b: CovBuffer): Any = {
      if (b.n == 0) return null
      val n = b.n.toDouble
      val out = new Array[Any](dim * dim)
      var k = 0
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          val c = b.prod(k) / n - (b.sum(i) / n) * (b.sum(j) / n)
          out(i * dim + j) = c
          out(j * dim + i) = c
          j += 1; k += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(b: CovBuffer): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * (1 + dim + b.prod.length))
      bb.putLong(b.n)
      b.sum.foreach(bb.putDouble)
      b.prod.foreach(bb.putDouble)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): CovBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val b = new CovBuffer(dim)
      b.n = bb.getLong
      var i = 0
      while (i < dim) { b.sum(i) = bb.getDouble; i += 1 }
      i = 0
      while (i < b.prod.length) { b.prod(i) = bb.getDouble; i += 1 }
      b
    }

    override def withNewMutableAggBufferOffset(
        newOffset: Int): VecCovarianceAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): VecCovarianceAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): VecCovarianceAgg = copy(child = newChild)
  }

  /** Column entry point: population covariance matrix (row-major d×d
    * array<double>) of a `dim`-length vector column. */
  def vecCovariance(c: Column, dim: Int): Column =
    GraftColumnBridge.column(
      VecCovarianceAgg(GraftColumnBridge.expression(c), dim)
        .toAggregateExpression())
}
