package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style, Kudo 2018) Viterbi segmentation
  * as a single in-row kernel consuming the trained piece table as
  * DATA — the same table-as-constructor-data idiom as
  * `BpeExpressions.BpeEncodeExpr`, for the same reason: the piece
  * table is vocabulary-sized, and the plan must carry ONE expression
  * node regardless.
  *
  * Semantics (the exact contract the DuckDB twin unrolls):
  *  - pieces carry integer COSTS (quantized −ln p in micro-nats,
  *    `round(ln(T/c)·10⁶)`), so the DP compares integers — no float
  *    accumulation to diverge cross-engine;
  *  - dp(0) = 0; dp(i) = min over k ∈ [1, min(6, i)] with
  *    substr(w, i−k+1, k) in the table of dp(i−k) + cost(piece)
  *    (6 = the max piece length the trainer seeds);
  *  - backtrack from the end choosing at each step the LONGEST k
  *    attaining dp — the deterministic tie-break both engines share;
  *  - every single character of the corpus is in the table by trainer
  *    construction (singles are never pruned), so every word is
  *    segmentable; a char missing from the table fails LOUDLY — it
  *    means the caller encodes a corpus the table wasn't trained on.
  *
  * Characters are Unicode code points (DuckDB's substr/len count the
  * same way), not UTF-16 units. */
object UnigramExpressions {

  val MaxPieceLen = 6

  case class UnigramEncodeExpr(child: Expression,
                               pieces: Seq[(String, Long)],
                               emitIds: Boolean = false)
    extends UnaryExpression with CodegenFallback {
    override def prettyName: String =
      if (emitIds) "graft_unigram_encode_ids" else "graft_unigram_encode"
    override def dataType: DataType =
      if (emitIds) ArrayType(LongType, containsNull = false)
      else ArrayType(StringType, containsNull = false)

    // Vocab id = the piece's index in the CONSTRUCTOR order. Callers
    // pass the trained table sorted by UTF-8 byte order, so ids are
    // the sorted-piece ranks — the same `row_number() OVER (ORDER BY
    // p)-1` the DuckDB twin assigns under binary collation, for ALL
    // inputs (the trainer sorts with queries.Shared.utf8Order).
    @transient private lazy val pieceId: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
      pieces.zipWithIndex.foreach { case ((p, _), i) =>
        m.putIfAbsent(p, java.lang.Long.valueOf(i.toLong)) }
      m
    }

    @transient private lazy val cost: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
      pieces.foreach { case (p, c) => m.putIfAbsent(p, java.lang.Long.valueOf(c)) }
      m
    }

    protected override def nullSafeEval(input: Any): Any = {
      val word = input.asInstanceOf[UTF8String].toString
      // code-point segmentation (DuckDB substr/len semantics)
      val cps = word.codePoints().toArray
      val n = cps.length
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      // prefix offsets in UTF-16 space for substring extraction
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < n) { off(i + 1) = off(i) + Character.charCount(cps(i)); i += 1 }
      def piece(a: Int, b: Int): String = word.substring(off(a), off(b))
      val NoPath = java.lang.Long.MAX_VALUE / 4
      val dp = new Array[Long](n + 1)
      i = 1
      while (i <= n) {
        var best = NoPath
        var k = 1
        val kmax = math.min(MaxPieceLen, i)
        while (k <= kmax) {
          val c = cost.get(piece(i - k, i))
          if (c != null && dp(i - k) < NoPath) {
            val cand = dp(i - k) + c.longValue()
            if (cand < best) best = cand
          }
          k += 1
        }
        dp(i) = best
        i += 1
      }
      require(dp(n) < NoPath,
        s"unigram encode: '$word' is unsegmentable — the piece table " +
          "is missing one of its characters (trained on a different " +
          "corpus?)")
      // backtrack, longest piece wins ties
      val out = new java.util.ArrayList[String]()
      var b = n
      while (b > 0) {
        var kk = -1
        var k = math.min(MaxPieceLen, b)
        while (k >= 1 && kk < 0) {
          val c = cost.get(piece(b - k, b))
          if (c != null && dp(b - k) < NoPath &&
              dp(b - k) + c.longValue() == dp(b)) kk = k
          k -= 1
        }
        // dp(b) was built from SOME k, so kk is always found
        out.add(0, piece(b - kk, b))
        b -= kk
      }
      val res = new Array[Any](out.size())
      i = 0
      while (i < res.length) {
        res(i) =
          if (emitIds) pieceId.get(out.get(i)).longValue()
          else UTF8String.fromString(out.get(i))
        i += 1
      }
      new GenericArrayData(res)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Viterbi-segment `word` under a trained (piece, cost) table. */
  def unigramEncode(word: Column, pieces: Seq[(String, Long)]): Column =
    GraftColumnBridge.column(UnigramEncodeExpr(
      GraftColumnBridge.expression(word), pieces))

  /** Viterbi-segment `word` and emit VOCAB IDS (the piece's index in
    * the given table order) — the release-export path, where shards
    * must carry real trained-tokenizer ids, not piece strings. */
  def unigramEncodeIds(word: Column,
                       pieces: Seq[(String, Long)]): Column =
    GraftColumnBridge.column(UnigramEncodeExpr(
      GraftColumnBridge.expression(word), pieces, emitIds = true))
}
