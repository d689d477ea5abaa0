package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native table-generating function (UDTF): sliding-window token
  * chunks, emitted LAZILY one row at a time.
  *
  * Why a Generator and not the declarative form: the composable
  * `posexplode(transform(sequence(...), slice/array_join))` chain
  * ([[graft.ext.Corpus.chunkDocs]], kept as the tested spec) first
  * MATERIALIZES every chunk of a document as one in-memory array of
  * structs, then explodes it. With overlapping windows the
  * materialized size is ~|doc| × chunkTokens / stride — for a
  * 100k-token document at stride ≪ size that is gigabytes per row
  * before the explode emits anything. This Generator holds one chunk
  * at a time: per-row memory is O(chunkTokens) regardless of document
  * length, which is the difference between finishing and OOMing on
  * the long tail of a real corpus.
  *
  * Output schema and semantics are identical to `chunkDocs`
  * (unit-gated): 0-based `chunk_ix`, 1-based `start_token`, final
  * chunks clamp at the document end, empty/null token arrays emit
  * nothing.
  */
case class SlidingChunks(tokens: Expression, chunkTokens: Int, stride: Int)
    extends Generator with CodegenFallback {
  require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")

  override def children: Seq[Expression] = Seq(tokens)

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_ix", LongType, nullable = false),
    StructField("start_token", LongType, nullable = false),
    StructField("n_chunk_tokens", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = true)))

  override def prettyName: String = "sliding_chunks"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = tokens.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0) Iterator.empty
    else new Iterator[InternalRow] {
      private val n = arr.numElements()
      private var start = 0 // 0-based start of the next chunk
      private var ix = 0L
      override def hasNext: Boolean = start < n
      override def next(): InternalRow = {
        val len = math.min(chunkTokens, n - start)
        val parts = new Array[UTF8String](len)
        var i = 0
        while (i < len) { parts(i) = arr.getUTF8String(start + i); i += 1 }
        val text = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
        val row = InternalRow(ix, (start + 1).toLong, len.toLong, text)
        ix += 1
        start += stride
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SlidingChunks =
    copy(tokens = newChildren.head)
}
