package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Union}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.DeclaredInputTypes
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The set_digest carrier behind Trino's setdigest surface
  * (make_set_digest / merge_set_digest / hash_counts): a theta sketch
  * (DataSketches) plus the per-hash counts that Spark's own theta
  * sketches do not track. Estimates and set algebra over these blobs
  * (intersection_cardinality, jaccard_index) run on Spark's built-in
  * `theta_*` expressions, which read the theta part through
  * [[SetDigestTheta]].
  *
  * A theta sketch retains the k smallest value hashes under a fixed
  * seed, so sketches, unions and intersections are DETERMINISTIC and
  * order-independent for a given input set — run-to-run stable, but not
  * reproducible in DuckDB, so these surfaces are bounds-tested
  * (ApproxSpec) like the other sketch families. */
object ThetaExprs {

  private def newUnion(): Union = SetOperation.builder().buildUnion()

  // ---- the set_digest carrier -------------------------------------
  // Trino's SetDigest is an HLL plus a minhash whose K smallest hashes
  // carry per-hash COUNTS (served by hash_counts). The theta sketch
  // covers the estimate/set-algebra face but tracks no counts, so
  // make_set_digest emits a COMPOSITE blob — [magic "GSD1"][int theta
  // length][theta bytes][int n][n × (long hash, int count)] — and every
  // theta-side consumer unwraps via [[thetaPart]]. A raw theta blob
  // (Spark's theta_sketch_agg, or digests persisted before this
  // carrier) still works everywhere counts aren't needed: the magic
  // byte 0x47 is not a valid DataSketches preamble-longs value, so the
  // two formats cannot be confused.
  private val SdMagic = Array[Byte](0x47, 0x53, 0x44, 0x31) // "GSD1"
  /** Retained hash budget — Trino's SetDigest minhash default. */
  val SdMaxHashes = 2048

  private def isComposite(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == SdMagic(0) && b(1) == SdMagic(1) &&
      b(2) == SdMagic(2) && b(3) == SdMagic(3)

  /** The theta-sketch slice of a set_digest blob (identity on raw
    * theta bytes). */
  private def thetaPart(b: Array[Byte]): Array[Byte] =
    if (!isComposite(b)) b
    else {
      val bb = java.nio.ByteBuffer.wrap(b)
      bb.position(4)
      val len = bb.getInt
      val out = new Array[Byte](len)
      bb.get(out)
      out
    }

  /** Mutable aggregation state: the theta union + the count map of the
    * (unsigned-)smallest retained hashes. */
  final class SdBuf(val union: Union,
      val counts: scala.collection.mutable.HashMap[Long, Int])

  /** 64-bit element hash (murmur3 x64 128's first word over the
    * little-endian value bytes — the same public algorithm Trino keys
    * its minhash with; blob formats differ regardless, DIALECT.md). */
  private def sdHash(v: Long): Long = {
    val bytes = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    java.nio.ByteBuffer.wrap(graft.dialect.BinFuncs.murmur3(bytes))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  /** Add `h` with count `c` to the bounded map: existing keys only
    * accumulate; a NEW key enters only if the map is under budget or
    * `h` is unsigned-smaller than the current largest retained key
    * (which is then evicted) — so the map always holds the K smallest
    * hashes seen, independent of arrival order. */
  private def sdAdd(m: scala.collection.mutable.HashMap[Long, Int],
      h: Long, c: Int): Unit = {
    m.get(h) match {
      case Some(old) =>
        m(h) = math.min(old.toLong + c, Short.MaxValue.toLong).toInt
      case None =>
        if (m.size < SdMaxHashes) m(h) = math.min(c, Short.MaxValue.toInt)
        else {
          var mx = 0L
          var first = true
          m.keysIterator.foreach { k =>
            if (first || java.lang.Long.compareUnsigned(k, mx) > 0) {
              mx = k; first = false
            }
          }
          if (java.lang.Long.compareUnsigned(h, mx) < 0) {
            m.remove(mx)
            m(h) = math.min(c, Short.MaxValue.toInt)
          }
        }
    }
  }

  private def sdSerialize(buf: SdBuf): Array[Byte] = {
    val theta = buf.union.getResult.toByteArray
    val bb = java.nio.ByteBuffer.allocate(
      4 + 4 + theta.length + 4 + buf.counts.size * 12)
    bb.put(SdMagic)
    bb.putInt(theta.length)
    bb.put(theta)
    bb.putInt(buf.counts.size)
    buf.counts.foreach { case (h, c) => bb.putLong(h); bb.putInt(c) }
    bb.array()
  }

  private def sdDeserialize(bytes: Array[Byte]): SdBuf = {
    val u = newUnion()
    val theta = thetaPart(bytes)
    u.union(Memory.wrap(theta))
    val m = scala.collection.mutable.HashMap.empty[Long, Int]
    if (isComposite(bytes)) {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.position(8 + theta.length)
      var n = bb.getInt
      while (n > 0) { sdAdd(m, bb.getLong, bb.getInt); n -= 1 }
    }
    new SdBuf(u, m)
  }

  private def sdMergeInto(buf: SdBuf, other: SdBuf): SdBuf = {
    buf.union.union(other.union.getResult)
    other.counts.foreach { case (h, c) => sdAdd(buf.counts, h, c) }
    buf
  }

  /** `make_set_digest(x)`: aggregate LONGs into the composite
    * set_digest blob (theta + bounded hash counts). */
  case class SetDigestAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[SdBuf] with UnaryLike[Expression]
      with DeclaredInputTypes {
    override def prettyName: String = "make_set_digest"
    override def dataType: DataType = BinaryType
    override def declaredInputTypes: Seq[DataType] = Seq(LongType)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): SdBuf =
      new SdBuf(newUnion(), scala.collection.mutable.HashMap.empty)

    override def update(buf: SdBuf, input: InternalRow): SdBuf = {
      val v = child.eval(input)
      if (v != null) {
        val l = v.asInstanceOf[Long]
        buf.union.update(l)
        sdAdd(buf.counts, sdHash(l), 1)
      }
      buf
    }

    override def merge(buf: SdBuf, other: SdBuf): SdBuf = sdMergeInto(buf, other)
    override def eval(buf: SdBuf): Any = sdSerialize(buf)
    override def serialize(buf: SdBuf): Array[Byte] = sdSerialize(buf)
    override def deserialize(bytes: Array[Byte]): SdBuf = sdDeserialize(bytes)

    override def withNewMutableAggBufferOffset(newOffset: Int): SetDigestAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): SetDigestAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): SetDigestAgg =
      copy(child = newChild)
  }

  /** `merge_set_digest(sk)`: merge stored set_digest blobs — counts
    * accumulate, theta parts union; raw theta inputs merge with empty
    * counts (pre-carrier digests stay readable). */
  case class SetDigestMergeAgg(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[SdBuf] with UnaryLike[Expression]
      with DeclaredInputTypes {
    override def prettyName: String = "merge_set_digest"
    override def dataType: DataType = BinaryType
    override def declaredInputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): SdBuf =
      new SdBuf(newUnion(), scala.collection.mutable.HashMap.empty)

    override def update(buf: SdBuf, input: InternalRow): SdBuf = {
      val v = child.eval(input)
      if (v != null) sdMergeInto(buf, sdDeserialize(v.asInstanceOf[Array[Byte]]))
      buf
    }

    override def merge(buf: SdBuf, other: SdBuf): SdBuf = sdMergeInto(buf, other)
    override def eval(buf: SdBuf): Any = sdSerialize(buf)
    override def serialize(buf: SdBuf): Array[Byte] = sdSerialize(buf)
    override def deserialize(bytes: Array[Byte]): SdBuf = sdDeserialize(bytes)

    override def withNewMutableAggBufferOffset(newOffset: Int): SetDigestMergeAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): SetDigestMergeAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): SetDigestMergeAgg =
      copy(child = newChild)
  }

  /** `hash_counts(sk)`: the retained hash→count map of a set_digest
    * (Trino's map(bigint, smallint); counts cap at Short.MaxValue).
    * Keys ordered unsigned-ascending for run-to-run determinism; a raw
    * theta blob (no counts tracked) yields the empty map. */
  case class HashCounts(child: Expression)
      extends UnaryExpression with DeclaredInputTypes with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.MapType(
      LongType, org.apache.spark.sql.types.ShortType, valueContainsNull = false)
    override def declaredInputTypes: Seq[DataType] = Seq(BinaryType)
    override def prettyName: String = "hash_counts"

    protected override def nullSafeEval(sk: Any): Any = {
      val buf = sdDeserialize(sk.asInstanceOf[Array[Byte]])
      val sorted = buf.counts.toArray
        .sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sorted.map(_._1: Any)),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          sorted.map(p => math.min(p._2, Short.MaxValue.toInt).toShort: Any)))
    }

    override protected def withNewChildInternal(newChild: Expression): HashCounts =
      copy(child = newChild)
  }

  /** The theta sketch inside a set_digest blob (identity on a raw
    * theta blob), for Spark's `theta_*` expressions, which read theta
    * sketches only. */
  case class SetDigestTheta(child: Expression)
      extends UnaryExpression with DeclaredInputTypes with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def declaredInputTypes: Seq[DataType] = Seq(BinaryType)
    override def prettyName: String = "set_digest_theta"

    protected override def nullSafeEval(sk: Any): Any =
      thetaPart(sk.asInstanceOf[Array[Byte]])

    override protected def withNewChildInternal(newChild: Expression): SetDigestTheta =
      copy(child = newChild)
  }
}
