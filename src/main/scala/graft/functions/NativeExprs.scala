package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{ColumnBridge, DeclaredInputTypes}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot per-row loops of the
  * LLM-pipeline operators (MinHash, SimHash, SRP, dot products).
  *
  * The same semantics are expressible with higher-order functions
  * (transform/aggregate/zip_with), but those evaluate interpreted with a
  * per-element closure and an allocation per step — at 100 TB (or even
  * sf0.1) the signature computation dominates the whole dedup pipeline.
  * A single expression evaluating a tight primitive loop over ArrayData
  * is 1-2 orders of magnitude faster and keeps the operator a pure
  * per-row projection (no shuffle, no driver involvement).
  *
  * Each expression is deterministic and null-intolerant; inputs come
  * from Spark's own xxhash64/split/transform pipeline stages.
  */
object NativeExprs {

  /** Whole-stage-codegen bridge for the unary native kernels (guide
    * §4): the generated code calls the expression's public `kernel`
    * method through the codegen references array, so the projection
    * FUSES into the enclosing WholeStageCodegen span instead of forcing
    * the whole stage back to interpreted row-at-a-time eval (what
    * `CodegenFallback` did — one fallback expression de-optimizes every
    * co-resident expression in the projection), and kernel
    * parameters/models ride the references array, never the generated
    * source text. `kernel` takes the child's unboxed catalyst value
    * (ArrayData / UTF8String / long) and returns the catalyst result
    * type; `nullSafeEval` delegates to the same method, so interpreted
    * and generated paths share one body. */
  trait UnaryKernelCodegen extends UnaryExpression {
    /** True when the kernel may return null for a NON-null input (the
      * expression must declare nullable; object return types only). */
    protected def kernelNullable: Boolean = false
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("kernelExpr", this)
        if (kernelNullable)
          s"""
             |${ev.value} = $ref.kernel($c);
             |${ev.isNull} = ${ev.value} == null;
           """.stripMargin
        else s"${ev.value} = $ref.kernel($c);"
      })
  }

  /** MinHash signature: out(s) = min over elements e of
    * xxh64(xxh64(e, 42), seed=s), for s in [0, numHashes). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // declared types matter: these are SQL-reachable via execute_query, and
    // an undeclared array<double> would be misread via getLong on unsafe rows
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def prettyName: String = "minhash_sig"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val out = new Array[Long](numHashes)
      var s = 0
      while (s < numHashes) {
        var m = Long.MaxValue
        var i = 0
        while (i < n) {
          val h = XXH64.hashLong(s.toLong, XXH64.hashLong(arr.getLong(i), 42L))
          if (h < m) m = h
          i += 1
        }
        out(s) = m
        s += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashSig =
      copy(child = newChild)
  }

  /** 64-bit SimHash over an array of 64-bit token hashes: per bit, sum
    * +1/-1 by the token's bit value; emit the sign bits packed. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def prettyName: String = "simhash64"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): Long = {
      val n = arr.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  /** Signed-random-projection signature: `bits` sign bits of dot(v, p_b)
    * packed into a BIGINT, where plane component p_b[i] is a
    * deterministic hash of (b, i) mapped to [-1, 1). */
  case class SRPSig(child: Expression, bits: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "srp_sig"

    // Plane components depend on (bit, element) only — never the row.
    // Cache them per task instance (grown to the widest vector seen):
    // recomputing 2 xxhashes per element×bit×ROW measured as the
    // dominant cost of signature computation at 60 bits. A benign race
    // (two threads growing at once) just recomputes the same values.
    @transient private var planes: Array[Array[Double]] = _
    private def planesFor(n: Int): Array[Array[Double]] = {
      var p = planes
      if (p == null || (bits > 0 && p(0).length < n)) {
        p = Array.tabulate(bits, n)((b, i) =>
          XXH64.hashLong(i.toLong, XXH64.hashLong(b.toLong, 42L)).toDouble /
            Long.MaxValue.toDouble)
        planes = p
      }
      p
    }

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): Long = {
      val n = arr.numElements()
      val p = planesFor(n)
      var sig = 0L
      var b = 0
      while (b < bits) {
        val w = p(b)
        var s = 0.0
        var i = 0
        while (i < n) {
          s += arr.getFloat(i).toDouble * w(i)
          i += 1
        }
        if (s > 0.0) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): SRPSig =
      copy(child = newChild)
  }

  /** Cross-engine SRP signature, native form of Similarity.srpSigMd5's
    * Catalyst composition (bits × aggregate(zip_with(...)) folds —
    * ~2M interpreted closure calls per 2000 rows at bits=32).
    * BIT-EXACT replication of the Catalyst/ DuckDB semantics, verified
    * by the embed_srp_* oracles:
    *  - plane weight (b, i) = md5("b:i") first 13 hex digits / 2^52,
    *    mapped to [-1, 1) — identical constants, precomputed once;
    *  - per element: double product p, quantized to an integer with
    *    floor(p·1e12 + 0.5) — three IEEE-754 ops (multiply, add,
    *    floor) that EVERY engine computes bit-identically, unlike a
    *    double→DECIMAL cast whose rounding is engine-defined (DuckDB's
    *    double-rounds at exact-half boundaries of the scaled double —
    *    see PERF.md "Known corner");
    *  - exact BIGINT summation (associative, order-free);
    *  - sign bit b set iff the integer sum > 0. */
  case class SrpSigMd5D(child: Expression, bits: Int, dims: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "srp_sig_md5d"

    @transient private lazy val planes: Array[Array[Double]] =
      SrpSigMd5D.planesFor(bits, dims)

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): Long = {
      val n = math.min(arr.numElements(), dims)
      var sig = 0L
      var b = 0
      while (b < bits) {
        val w = planes(b)
        var qs = 0L
        var i = 0
        while (i < n) {
          val p = arr.getFloat(i).toDouble * w(i)
          qs += math.floor(p * 1e12 + 0.5).toLong
          i += 1
        }
        if (qs > 0L) sig |= (1L << b)
        b += 1
      }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): SrpSigMd5D =
      copy(child = newChild)
  }

  object SrpSigMd5D {
    // The plane matrix is a pure function of (bits, dims); expressions
    // are copied per plan branch and re-materialized per task, so a
    // per-instance lazy val would redo the 2048-md5 derivation each
    // time — cache once per JVM.
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
    private[NativeExprs] def planesFor(bits: Int, dims: Int): Array[Array[Double]] =
      cache.computeIfAbsent((bits, dims), { case (nb, nd) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(nb, nd) { (b, i0) =>
          val i = i0 + 1
          md.reset()
          val d = md.digest(s"$b:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new StringBuilder(32)
          d.foreach(x => sb.append(f"${x & 0xff}%02x"))
          val hex = sb.substring(0, 13)
          (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 52).toDouble) * 2.0 - 1.0
        }
      })
  }

  /** Split a packed signature into its LSH band chunks:
    * out(b) = (sig >> b*chunkBits) & (2^chunkBits - 1), b in [0, bands).
    * Exists so `posexplode(ChunkSplit(ExpensiveSig(v)))` evaluates the
    * signature ONCE per row inside the generator input — the
    * `transform(sequence(...), b => shiftright(sig, ...))` composition
    * it replaces gets project-collapsed with the signature projection,
    * and the lambda then re-evaluates the full signature expression per
    * band (measured: banding at 4 bands cost ~10× the signatures). */
  case class ChunkSplit(child: Expression, bands: Int, chunkBits: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def declaredInputTypes: Seq[DataType] = Seq(LongType)
    override def prettyName: String = "chunk_split"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[Long])

    def kernel(sig: Long): ArrayData = {
      val mask = (1L << chunkBits) - 1
      val out = new Array[Any](bands)
      var b = 0
      while (b < bands) {
        out(b) = (sig >> (b * chunkBits)) & mask
        b += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): ChunkSplit =
      copy(child = newChild)
  }

  /** Order-independent integer-quantized dot product, native form of
    * Similarity.dotQuant's aggregate(zip_with(...)) fold: per element
    * the double product p is quantized to floor(p·1e12 + 0.5) — three
    * IEEE-754 ops every engine computes bit-identically — and the
    * integers sum exactly as BIGINT (associative, so partition merge
    * order is irrelevant). Replaces the DECIMAL(28,14)-cast algebra,
    * whose half-way rounding DuckDB resolves differently at different
    * magnitudes (PERF.md "Known corner": one product in ~32k at
    * sf0.001 landed on an exact-half boundary of the scaled double and
    * diverged by 1e-14). In a cosine ratio the 1e12 scales cancel:
    * cos = qdab / sqrt(qdaa · qdbb) after double upcast. */
  case class DotQuantD(left: Expression, right: Expression)
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def prettyName: String = "dot_quant_d"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        val p = x.getFloat(i).toDouble * y.getFloat(i).toDouble
        acc += math.floor(p * 1e12 + 0.5).toLong
        i += 1
      }
      acc
    }

    // Same IEEE sequence as nullSafeEval (double multiply, scale, +0.5,
    // Math.floor, long cast) — fuses into whole-stage codegen.
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  double p = (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |  $acc += (long) java.lang.Math.floor(p * 1e12 + 0.5);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotQuantD =
      copy(left = newLeft, right = newRight)
  }

  /** Integer-quantized squared-L2 distance, the native form of the PQ
    * twin's zip_with/aggregate fold: per element d = x−c (double), the
    * quantized term floor(d·d·1e12 + 0.5) sums exactly as BIGINT.
    * Same three-IEEE-op-per-element contract as [[DotQuantD]], so the
    * DuckDB oracle replays it bit-identically; the native loop + codegen
    * replace an interpreted HOF that dominated the twin's runtime
    * (two 0.6 s assignment jobs at sf0.1 were ~90% lambda dispatch). */
  case class L2QuantD(left: Expression, right: Expression)
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def prettyName: String = "l2_quant_d"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        acc += math.floor(d * d * 1e12 + 0.5).toLong
        i += 1
      }
      acc
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  double d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
           |  $acc += (long) java.lang.Math.floor(d * d * 1e12 + 0.5);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): L2QuantD =
      copy(left = newLeft, right = newRight)
  }

  /** Dot product of two float arrays in double (elementwise upcast,
    * index-order accumulation — same math as the zip_with/aggregate
    * composition, minus the per-element allocation). Implements
    * doGenCode, so it fuses into whole-stage codegen instead of
    * breaking the span like a fallback expression would. */
  case class DotF(left: Expression, right: Expression)
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = DoubleType
    override def declaredInputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def prettyName: String = "dotf"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotF =
      copy(left = newLeft, right = newRight)
  }

  /** Distinct xxhash64 values of the k-token shingles of a token array:
    * hash of "tok_i tok_i+1 … tok_i+k-1" (space-joined, Spark xxhash64
    * seed 42 — identical to xxhash64(concat_ws(" ", slice(toks,i,k))))
    * for i in [1, max(n-k+1, 1)]. One native pass replaces the
    * interpreted transform+slice+concat_ws window walk. */
  case class ShingleHash(child: Expression, k: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "shingle_hash"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val windows = math.max(n - (k - 1), 1)
      val seen = new java.util.LinkedHashSet[java.lang.Long](windows * 2)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < windows) {
        sb.setLength(0)
        var j = i
        val end = math.min(i + k, n)
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        seen.add(XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), 42L))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var m = 0
      while (it.hasNext) { out(m) = it.next(); m += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleHash =
      copy(child = newChild)
  }

  /** Count of common elements of two SORTED long arrays (merge scan —
    * no per-pair hash set). The pairwise intersection inside blocked
    * n-gram dedup is the block-quadratic hot loop; Spark's
    * array_intersect builds a hash set per evaluation. Inputs must be
    * sorted ascending and distinct (array_sort(array_distinct(...))). */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = IntegerType
    override def declaredInputTypes: Seq[DataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def prettyName: String = "sorted_intersect_count"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements()
      val ny = y.numElements()
      var i = 0
      var j = 0
      var c = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $nx = $a.numElements();
           |int $ny = $b.numElements();
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i);
           |  long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; }
           |  else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SortedIntersectCount =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass text statistics: struct(n_chars, n_words, n_alpha,
    * n_space, n_stop) where words are maximal non-whitespace runs,
    * alpha counts ASCII letters, space counts ' ' and stopword hits
    * compare lowercased tokens against a fixed list — the same values
    * the regex/split/filter composition computes in five passes. */
  case class TextStats(child: Expression, stopwords: Seq[String])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_words", IntegerType, nullable = false),
      StructField("n_alpha", IntegerType, nullable = false),
      StructField("n_space", IntegerType, nullable = false),
      StructField("n_stop", IntegerType, nullable = false)))
    override def prettyName: String = "text_stats"

    private val stopSet = stopwords.toSet

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val s = input.toString
      val n = s.length
      var alpha = 0
      var space = 0
      var words = 0
      var stop = 0
      var i = 0
      val tok = new java.lang.StringBuilder(16)
      def flush(): Unit = if (tok.length > 0) {
        words += 1
        if (stopSet.contains(tok.toString.toLowerCase(java.util.Locale.ROOT))) stop += 1
        tok.setLength(0)
      }
      while (i < n) {
        val c = s.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha += 1
        if (c == ' ') space += 1
        // whitespace = Java regex \s (the split the oracle mirrors)
        if (isRegexSpace(c)) flush() else tok.append(c)
        i += 1
      }
      flush()
      org.apache.spark.sql.catalyst.InternalRow(n, words, alpha, space, stop)
    }

    override protected def withNewChildInternal(newChild: Expression): TextStats =
      copy(child = newChild)
  }

  /** Shared tokenizer of the tokenize-once text kernels — Spark's
    * `filter(split(lower(text), "\\s+"), _ != "")`: the child's own
    * `Lower.convert` (same case mapping and collation as `lower`), then
    * a split on the six Java-regex `\s` characters with empty tokens
    * dropped. */
  trait TextTokenKernel extends UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)

    @transient private lazy val lower =
      org.apache.spark.sql.catalyst.expressions.Lower(child)

    protected def tokens(text: org.apache.spark.unsafe.types.UTF8String)
        : Array[String] = {
      val s = lower.convert(text).toString
      val out = new scala.collection.mutable.ArrayBuffer[String](64)
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || isRegexSpace(s.charAt(i))) {
          if (i > start) out += s.substring(start, i)
          start = i + 1
        }
        i += 1
      }
      out.toArray
    }

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow
  }

  private val UndLang = org.apache.spark.unsafe.types.UTF8String.fromString("und")

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS. */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Distinct k-token shingle strings of a document, in first-occurrence
    * order, plus the window count they came from: struct(shingles,
    * windows) with windows = max(n − k + 1, 1). Fewer than k tokens
    * give one shingle of all of them; no tokens give `[""]` —
    * the same values as `array_distinct(transform(sequence(1, windows),
    * i -> concat_ws(" ", slice(tokens, i, k))))`, from one tokenization. */
  case class TextShingles(child: Expression, k: Int) extends TextTokenKernel {
    require(k >= 1, s"shingle width must be positive, got $k")
    override def dataType: DataType = StructType(Seq(
      StructField("shingles", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("windows", IntegerType, nullable = false)))
    override def prettyName: String = "text_shingles"

    def kernel(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val toks = tokens(text)
      val n = toks.length
      val windows = math.max(n - (k - 1), 1)
      val seen = new java.util.LinkedHashSet[String](windows * 2)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < windows) {
        sb.setLength(0)
        var j = i
        val end = math.min(i + k, n)
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var m = 0
      while (it.hasNext) {
        out(m) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        m += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(out), windows)
    }

    override protected def withNewChildInternal(newChild: Expression): TextShingles =
      copy(child = newChild)
  }

  /** Marker-word language ID: struct(lang, score) where score is the
    * best per-language count of tokens in that language's marker set
    * (a token listed by several languages counts for each), lang the
    * first language in `markers` order reaching it, and "und" when no
    * marker occurs. One hash lookup per token. */
  case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
      extends TextTokenKernel {
    override def dataType: DataType = StructType(Seq(
      StructField("lang", StringType, nullable = false),
      StructField("score", IntegerType, nullable = false)))
    override def prettyName: String = "lang_id"

    @transient private lazy val langs: Array[org.apache.spark.unsafe.types.UTF8String] =
      markers.map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray
    @transient private lazy val langsOf: java.util.HashMap[String, Array[Int]] = {
      val m = new java.util.HashMap[String, Array[Int]]()
      markers.flatMap(_._2).distinct.foreach { w =>
        m.put(w, markers.indices.filter(markers(_)._2.contains(w)).toArray)
      }
      m
    }

    def kernel(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val scores = new Array[Int](langs.length)
      tokens(text).foreach { t =>
        val ls = langsOf.get(t)
        if (ls != null) ls.foreach(l => scores(l) += 1)
      }
      var best = 0
      var arg = -1
      var l = 0
      while (l < scores.length) {
        if (scores(l) > best) { best = scores(l); arg = l }
        l += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(if (arg < 0) UndLang else langs(arg), best)
    }

    override protected def withNewChildInternal(newChild: Expression): LangId =
      copy(child = newChild)
  }

  /** All adjacent character bigrams of a string as an array — the
    * char-LM tokenization. One tight byte loop per ROW; the
    * higher-order `transform(sequence(...), i -> substring(...))`
    * composition evaluates an interpreted closure per CHARACTER
    * (measured ~2.5 s per pass at sf0.1 vs milliseconds here).
    * UTF-8 aware: bigrams are pairs of code points, sliced at byte
    * offsets without re-walking the string per position. */
  case class CharBigrams(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "char_bigrams"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(
        NativeExprs.bigramSlices(input).asInstanceOf[Array[Any]])

    override protected def withNewChildInternal(newChild: Expression): CharBigrams =
      copy(child = newChild)
  }

  /** Apply a trained char-bigram LM to a document in one pass: struct
    * (n_pairs, avg_p) where avg_p replays the batch scorer's exact
    * arithmetic — each probability rounded to DECIMAL-12 before an
    * exact (BigDecimal) accumulation, then one double division — so a
    * stream scored with this expression equals the batch
    * `TextAnalysis.charLmScore` bit for bit. Bigrams absent from the
    * model are skipped (the batch path's inner join). The model is a
    * small trained artifact (≤ alphabet² entries) baked into the
    * expression/task closure — the train-offline / score-online
    * split of a production quality filter. */
  case class BigramAvgScore(child: Expression, model: Map[String, Double])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_pairs", LongType, nullable = false),
      StructField("avg_p", DoubleType, nullable = true)))
    override def prettyName: String = "bigram_avg_score"

    @transient private lazy val lut: java.util.HashMap[String, java.lang.Double] = {
      val m = new java.util.HashMap[String, java.lang.Double](model.size * 2)
      model.foreach { case (k, v) => m.put(k, java.lang.Double.valueOf(v)) }
      m
    }

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val bigrams = NativeExprs.bigramSlices(input)
      var sum = java.math.BigDecimal.ZERO
      var n = 0L
      var i = 0
      while (i < bigrams.length) {
        val p = lut.get(bigrams(i).toString)
        if (p != null) {
          // mirror Spark's cast(double as decimal(18,12)): HALF_UP at
          // scale 12 (ties are unreachable from doubles — see ops docs)
          sum = sum.add(new java.math.BigDecimal(p.doubleValue)
            .setScale(12, java.math.RoundingMode.HALF_UP))
          n += 1L
        }
        i += 1
      }
      if (n == 0L) org.apache.spark.sql.catalyst.InternalRow(0L, null)
      else org.apache.spark.sql.catalyst.InternalRow(n, sum.doubleValue() / n)
    }

    override protected def withNewChildInternal(newChild: Expression): BigramAvgScore =
      copy(child = newChild)
  }

  /** Shared DSIR loop: lowercase, split on single spaces (empties
    * dropped — Spark's `filter(split(lower(text), " "), _ != "")`),
    * then for every unigram and adjacent "a b" bigram, bucket =
    * (first two md5 bytes of the UTF-8 feature) % buckets — exactly
    * `conv(substring(md5(f), 1, 4), 16, 10) % buckets`. Feature ORDER
    * differs from the HOF composition (interleaved vs unigrams-then-
    * bigrams) but the multiset is identical, and every consumer is a
    * commutative exact reduction. */
  private def dsirBucketsOf(s: org.apache.spark.unsafe.types.UTF8String,
      buckets: Int): Array[Int] = {
    val text = s.toLowerCase.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(f: String): Int = {
      val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets
    }
    val out = new scala.collection.mutable.ArrayBuffer[Int](64)
    var prev: String = null
    var start = 0
    var i = 0
    val len = text.length
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (i > start) {
          val tok = text.substring(start, i)
          out += bucket(tok)
          if (prev != null) out += bucket(prev + " " + tok)
          prev = tok
        }
        start = i + 1
      }
      i += 1
    }
    out.toArray
  }

  /** DSIR feature buckets of one document as an int array — the
    * training-side native kernel (explode + groupBy downstream). One
    * string pass; replays the split/filter/transform/md5/conv HOF
    * pipeline's multiset exactly (NativeExprsSpec pins it). */
  case class DsirBuckets(child: Expression, buckets: Int)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "dsir_buckets"
    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    def kernel(input: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(NativeExprs.dsirBucketsOf(input, buckets)
        .asInstanceOf[Array[Int]].map(_.asInstanceOf[Any]))
    override protected def withNewChildInternal(newChild: Expression): DsirBuckets =
      copy(child = newChild)
  }

  /** DSIR scoring in one pass: struct(n_features, sum_q) where sum_q
    * is the exact long sum of the baked per-bucket quantized ratios
    * over the document's features — the scoring-side kernel
    * (train-offline table in the task closure, like
    * [[BigramAvgScore]]). Commutative exact accumulation, so the
    * value equals the HOF transform/element_at/fold composition
    * bit for bit regardless of feature order. */
  case class DsirSumQ(child: Expression, table: Seq[Long])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_features", LongType, nullable = false),
      StructField("sum_q", LongType, nullable = false)))
    override def prettyName: String = "dsir_sum_q"
    @transient private lazy val tab: Array[Long] = table.toArray
    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val bs = NativeExprs.dsirBucketsOf(input, tab.length)
      var sum = 0L
      var i = 0
      while (i < bs.length) { sum += tab(bs(i)); i += 1 }
      org.apache.spark.sql.catalyst.InternalRow(bs.length.toLong, sum)
    }
    override protected def withNewChildInternal(newChild: Expression): DsirSumQ =
      copy(child = newChild)
  }

  /** Shared byte loop: all adjacent code-point bigrams as UTF8String
    * slices, byte offsets indexed once (no per-position re-walk). */
  private[functions] def bigramSlices(
      s: org.apache.spark.unsafe.types.UTF8String)
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    val bytes = s.getBytes
    val n = bytes.length
    var chars = 0
    var i = 0
    while (i < n) { chars += 1; i += utf8Len(bytes(i)) }
    if (chars < 2)
      return Array.empty[org.apache.spark.unsafe.types.UTF8String]
    val starts = new Array[Int](chars + 1)
    var c = 0
    i = 0
    while (i < n) { starts(c) = i; c += 1; i += utf8Len(bytes(i)) }
    starts(chars) = n
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](chars - 1)
    var k = 0
    while (k < chars - 1) {
      out(k) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(bytes, starts(k), starts(k + 2) - starts(k))
      k += 1
    }
    out
  }

  @inline private def utf8Len(b: Byte): Int =
    if ((b & 0x80) == 0) 1
    else if ((b & 0xe0) == 0xc0) 2
    else if ((b & 0xf0) == 0xe0) 3
    else if ((b & 0xf8) == 0xf0) 4
    else 1 // continuation/invalid byte: advance one (lenient)

  // ---- Column API ----

  def charBigrams(text: Column): Column =
    ColumnBridge.column(CharBigrams(ColumnBridge.expression(text)))

  def bigramAvgScore(text: Column, model: Map[String, Double]): Column =
    ColumnBridge.column(BigramAvgScore(ColumnBridge.expression(text), model))

  def dsirBuckets(text: Column, buckets: Int): Column =
    ColumnBridge.column(DsirBuckets(ColumnBridge.expression(text), buckets))

  def dsirSumQ(text: Column, table: Seq[Long]): Column =
    ColumnBridge.column(DsirSumQ(ColumnBridge.expression(text), table))

  /** PQ nearest-code per subspace: out(s) = cent_id of the argmax over
    * the sub-s codebook of `dot(v_s, c) − ‖c‖²/2` (the L2-argmin
    * linearization — ‖v‖² is constant per row), ties to the SMALLER
    * cent_id. Bit-matches the `transform(centLit, …) → array_max`
    * composition it replaces (same index-order double accumulation as
    * [[DotF]]; ‖c‖²/2 derived sqrt-then-square identically), but one
    * tight primitive loop per row instead of m×ksub interpreted HOF
    * closures with a struct allocation each — at the classic 8-bit PQ
    * config (m=8, ksub=256) that's 2048 closures per row and the
    * difference between a 19 s and a sub-second index build at sf0.1.
    * Books arrive sorted by (sub, cent_id); ids may be sparse after
    * empty-cell drop, hence the explicit id table.
    *
    * Codebooks ride a BROADCAST variable of the precomputed kernel
    * tables (ids, flat centroid floats, counts, −‖c‖²/2) instead of an
    * expression-tree literal, and the expression fuses into whole-stage
    * codegen via [[UnaryKernelCodegen]] — same scaling rationale as
    * [[PqCodesQuant]] (guide §4/§5). */
  case class PqCodes(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Long]],
        Array[Array[Float]], Array[Int], Array[Array[Double]])])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "pq_codes"

    @transient private lazy val ids: Array[Array[Long]] = bc.value._1
    // per subspace, all centroids FLAT in one contiguous float[] —
    // the argmin loop walks it linearly (no per-centroid array deref)
    @transient private lazy val flatCents: Array[Array[Float]] = bc.value._2
    @transient private lazy val nCents: Array[Int] = bc.value._3
    // -(l2(c))²/2, sqrt-then-square exactly like the Cent tuple's norm
    // field so scores stay bit-identical to the HOF path
    @transient private lazy val negHalfN2: Array[Array[Double]] = bc.value._4

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    def kernel(arr: ArrayData): ArrayData = {
      val m = flatCents.length
      val dsub = flatCents(0).length / nCents(0)
      // one bulk copy instead of m·ksub·dsub ArrayData.getFloat calls
      val vec = arr.toFloatArray()
      val out = new Array[Long](m)
      var s = 0
      while (s < m) {
        val fc = flatCents(s)
        val hn = negHalfN2(s)
        val off = s * dsub
        var best = Double.NegativeInfinity
        var bestId = 0L
        var c = 0
        var base = 0
        while (c < nCents(s)) {
          var acc = 0.0
          var i = 0
          while (i < dsub) {
            acc += vec(off + i).toDouble * fc(base + i).toDouble
            i += 1
          }
          val score = acc + hn(c)
          // strict > keeps the FIRST (smallest cent_id: books sorted)
          if (score > best) { best = score; bestId = ids(s)(c) }
          c += 1
          base += dsub
        }
        out(s) = bestId
        s += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): PqCodes =
      copy(child = newChild)
  }

  def pqCodes(vec: Column, books: Seq[Seq[(Long, Seq[Float])]]): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "pq_codes: every subspace codebook must be non-empty " +
        s"(got ${books.count(_.isEmpty)} empty of ${books.length})")
    val ids = books.map(_.map(_._1).toArray).toArray
    val flatCents = books.map { b =>
      val dsub = b.head._2.length
      val out = new Array[Float](b.length * dsub)
      var c = 0
      while (c < b.length) {
        var i = 0
        val v = b(c)._2
        while (i < dsub) { out(c * dsub + i) = v(i); i += 1 }
        c += 1
      }
      out
    }.toArray
    val nCents = books.map(_.length).toArray
    val negHalfN2 = books.map(_.map { case (_, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i).toDouble; s += d * d; i += 1 }
      val n = math.sqrt(s)
      -(n * n) / 2.0
    }.toArray).toArray
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast((ids, flatCents, nCents, negHalfN2))
    ColumnBridge.column(PqCodes(ColumnBridge.expression(vec), bc))
  }

  /** Nearest centroid by the QUANTIZED-dot cosine (the md5-twin
    * geometry) as one native kernel per row — the tight-loop form of
    * `-array_max(transform(centLit, c => struct(cos, -id))).neg_id`
    * (Similarity.cellExprQuant keeps that HOF composition as the
    * executable spec). Semantics replicated exactly:
    *  - per centroid: qd = Σ floor(v_i·c_i·1e12 + 0.5) over the SHORTER
    *    of the two arrays (DotQuantD), cos = qd / sqrt(dd·cdd);
    *  - argmax ordering is Spark's SQL double ordering (NaN greatest,
    *    -0.0 == 0.0), ties take the LOWEST centroid id (centroids
    *    arrive id-ascending; strict > keeps the first);
    *  - a NULL vector/self-dot nulls every cosine, and the all-null
    *    tie resolves to the lowest id — same as the struct argmax.
    *
    * The centroid model rides a BROADCAST variable (ids, vecs,
    * self-dots as parallel arrays), not an expression-tree literal
    * (guide §5): the plan/task binary stays model-size-independent
    * (one torrent fetch per executor instead of nCells×dims floats
    * serialized into every stage), and doGenCode references it via the
    * codegen references array, so the assignment fuses into
    * whole-stage codegen instead of breaking the span as a fallback. */
  case class NearestCellQuant(left: Expression, right: Expression,
      bc: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Array[Float]], Array[Double])])
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def declaredInputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), DoubleType)
    override def prettyName: String = "nearest_cell_quant"

    @transient private lazy val centIds: Array[Long] = bc.value._1
    @transient private lazy val centVecs: Array[Array[Float]] = bc.value._2
    @transient private lazy val centDds: Array[Double] = bc.value._3

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = left.eval(input)
      val d = right.eval(input)
      kernel(if (v == null) null else v.asInstanceOf[ArrayData],
        if (d == null) 0.0 else d.asInstanceOf[Double], d == null)
    }

    /** The per-row loop, shared by eval and the generated code. */
    def kernel(v: ArrayData, dd: Double, ddNull: Boolean): Long = {
      if (v == null || ddNull) return centIds(0) // all-null-cos tie
      val vec = v.toFloatArray()
      var bestId = centIds(0)
      var bestCos = cosQ(vec, dd, 0)
      var c = 1
      while (c < centIds.length) {
        val cos = cosQ(vec, dd, c)
        // SQL double ordering: -0.0 == 0.0 short-circuits to equal
        // (keep the earlier, lower id); otherwise Double.compare
        // (NaN greatest, NaN == NaN)
        val cmp = if (cos == bestCos) 0 else java.lang.Double.compare(cos, bestCos)
        if (cmp > 0) { bestCos = cos; bestId = centIds(c) }
        c += 1
      }
      bestId
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("nearestCellQuant", this,
        classOf[NearestCellQuant].getName)
      val lg = left.genCode(ctx)
      val rg = right.genCode(ctx)
      val result = ctx.freshName("nearestCell")
      ev.copy(code = code"""
        ${lg.code}
        ${rg.code}
        final long $result = $ref.kernel(
          ${lg.isNull} ? null : ${lg.value}, ${rg.value}, ${rg.isNull});
      """, isNull = FalseLiteral,
        value = org.apache.spark.sql.catalyst.expressions.codegen
          .JavaCode.variable(result, LongType))
    }

    private def cosQ(vec: Array[Float], dd: Double, c: Int): Double = {
      val cv = centVecs(c)
      val n = math.min(vec.length, cv.length)
      var acc = 0L
      var i = 0
      while (i < n) {
        val p = vec(i).toDouble * cv(i).toDouble
        acc += math.floor(p * 1e12 + 0.5).toLong
        i += 1
      }
      acc.toDouble / math.sqrt(dd * centDds(c))
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): NearestCellQuant =
      copy(left = newLeft, right = newRight)
  }

  def nearestCellQuant(vec: Column, dd: Column,
      cents: Seq[(Long, Seq[Float], Double)]): Column = {
    require(cents.nonEmpty,
      "nearest_cell_quant: empty centroid set (no cells to assign to)")
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast((cents.map(_._1).toArray,
        cents.map(_._2.toArray).toArray, cents.map(_._3).toArray))
    ColumnBridge.column(NearestCellQuant(
      ColumnBridge.expression(vec), ColumnBridge.expression(dd), bc))
  }

  /** PQ code assignment under the QUANTIZED L2 (the md5-twin geometry):
    * per subspace, argmin over the book of
    * Σ floor((a_i−c_i)²·1e12 + 0.5) with ties to the lowest code id —
    * the native form of the per-sub
    * `array_min(transform(bookLit, c => struct(l2QuantD(slice, c), id)))`
    * chain (kept in Similarity.pqTopKMd5's codesCol as the executable
    * spec). Distances are exact BIGINTs, so argmin has no float ties;
    * a NULL vector nulls every distance and each sub's all-null tie
    * resolves to its lowest code id, exactly like the struct argmin.
    *
    * Codebooks ride a BROADCAST variable (per-sub id and vector arrays)
    * instead of an expression-tree literal, and doGenCode references it
    * via the codegen references array — same scaling rationale as
    * [[NearestCellQuant]] (guide §5). */
  case class PqCodesQuant(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[
        (Array[Array[Long]], Array[Array[Array[Float]]])], dsub: Int)
      extends UnaryExpression with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def declaredInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "pq_codes_quant"

    @transient private lazy val ids: Array[Array[Long]] = bc.value._1
    @transient private lazy val vecs: Array[Array[Array[Float]]] = bc.value._2

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      kernel(if (v == null) null else v.asInstanceOf[ArrayData])
    }

    /** The per-row loop, shared by eval and the generated code. */
    def kernel(v: ArrayData): ArrayData = {
      val m = ids.length
      val out = new Array[Any](m)
      if (v == null) {
        var s = 0
        while (s < m) { out(s) = ids(s)(0); s += 1 } // all-null-d ties
        return new GenericArrayData(out)
      }
      val vec = v.toFloatArray()
      var s = 0
      while (s < m) {
        val off = s * dsub
        // slice(vec, off+1, dsub) semantics: empty past the end,
        // truncated at the boundary; the distance loop then runs over
        // the shorter of (slice, code) like L2QuantD
        val sliceLen = math.max(0, math.min(dsub, vec.length - off))
        val bids = ids(s)
        val bvecs = vecs(s)
        var bestId = bids(0)
        var bestD = distQ(vec, off, sliceLen, bvecs(0))
        var c = 1
        while (c < bids.length) {
          val d = distQ(vec, off, sliceLen, bvecs(c))
          if (d < bestD) { bestD = d; bestId = bids(c) } // ties keep lowest id
          c += 1
        }
        out(s) = bestId
        s += 1
      }
      new GenericArrayData(out)
    }

    private def distQ(vec: Array[Float], off: Int, sliceLen: Int,
        cv: Array[Float]): Long = {
      val n = math.min(sliceLen, cv.length)
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = vec(off + i).toDouble - cv(i).toDouble
        acc += math.floor(d * d * 1e12 + 0.5).toLong
        i += 1
      }
      acc
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("pqCodesQuant", this,
        classOf[PqCodesQuant].getName)
      val cg = child.genCode(ctx)
      val result = ctx.freshName("pqCodes")
      ev.copy(code = code"""
        ${cg.code}
        final org.apache.spark.sql.catalyst.util.ArrayData $result =
          $ref.kernel(${cg.isNull} ? null : ${cg.value});
      """, isNull = FalseLiteral,
        value = org.apache.spark.sql.catalyst.expressions.codegen
          .JavaCode.variable(result, dataType))
    }

    override protected def withNewChildInternal(newChild: Expression): PqCodesQuant =
      copy(child = newChild)
  }

  def pqCodesQuant(vec: Column, books: Seq[Seq[(Long, Seq[Float])]],
      dsub: Int): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "pq_codes_quant: every subspace codebook must be non-empty " +
        s"(got ${books.count(_.isEmpty)} empty of ${books.length}) — " +
        "the vectors are shorter than m*dsub, so trailing subspaces " +
        "trained no codes")
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast((books.map(_.map(_._1).toArray).toArray,
        books.map(_.map(_._2.toArray).toArray).toArray))
    ColumnBridge.column(PqCodesQuant(ColumnBridge.expression(vec), bc, dsub))
  }

  /** `action`, then a non-blocking destroy of the model broadcasts of
    * the kernels in `models`: an iterative trainer's pass model, unread
    * once the pass's action is done, need not wait for garbage collection. */
  def withModels[T](models: Column*)(action: => T): T =
    try action
    finally models.flatMap(m => ColumnBridge.expression(m).collect {
      case e: PqCodes => e.bc
      case e: NearestCellQuant => e.bc
      case e: PqCodesQuant => e.bc
    }).foreach(_.destroy())

  def minhashSig(shingleHashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingleHashes), numHashes))

  def simhash64(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokenHashes)))

  def srpSig(vec: Column, bits: Int): Column =
    ColumnBridge.column(SRPSig(ColumnBridge.expression(vec), bits))

  def srpSigMd5D(vec: Column, bits: Int, dims: Int): Column =
    ColumnBridge.column(SrpSigMd5D(ColumnBridge.expression(vec), bits, dims))

  def dotf(a: Column, b: Column): Column =
    ColumnBridge.column(DotF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotQuantD(a: Column, b: Column): Column =
    ColumnBridge.column(DotQuantD(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2QuantD(a: Column, b: Column): Column =
    ColumnBridge.column(L2QuantD(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def chunkSplit(sig: Column, bands: Int, chunkBits: Int): Column =
    ColumnBridge.column(ChunkSplit(ColumnBridge.expression(sig), bands, chunkBits))

  def shingleHash(tokens: Column, k: Int): Column =
    ColumnBridge.column(ShingleHash(ColumnBridge.expression(tokens), k))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def textStats(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TextStats(ColumnBridge.expression(text), stopwords))

  def textShingles(text: Column, k: Int): Column =
    ColumnBridge.column(TextShingles(ColumnBridge.expression(text), k))

  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangId(ColumnBridge.expression(text), markers))

  /** BM25's per-row counters in ONE pass: doc length (non-empty
    * single-space tokens, the split(lower(text), ' ') convention the
    * whole BM25 family and its oracles use) plus the term frequency of
    * each fixed query term, in `terms` order. The HOF composition
    * (|Q|+1 `filter(split(...))` passes) evaluates an interpreted
    * closure per TOKEN per term — the same hot-path rule as
    * TextStats/CharBigrams. */
  case class Bm25Counts(child: Expression, terms: Seq[String])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("dl", IntegerType, nullable = false),
      StructField("tf", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "bm25_counts"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      // Lowercase through Spark's OWN kernel (UTF8String.toLowerCase —
      // what the lower() builtin calls), so parity with the composed
      // plan holds for every input and default locale, not just ASCII
      // (Locale.ROOT diverged from Spark's non-ASCII path on e.g. a
      // Turkish-locale JVM).
      val s = input.toLowerCase.toString
      val n = s.length
      val tf = new Array[Int](terms.length)
      var dl = 0
      var i = 0
      var start = 0
      def flush(end: Int): Unit = if (end > start) {
        dl += 1
        var ti = 0
        while (ti < terms.length) {
          val t = terms(ti)
          if (t.length == end - start && s.regionMatches(start, t, 0, t.length))
            tf(ti) += 1
          ti += 1
        }
      }
      while (i < n) {
        if (s.charAt(i) == ' ') { flush(i); start = i + 1 }
        i += 1
      }
      flush(n)
      org.apache.spark.sql.catalyst.InternalRow(dl, new GenericArrayData(tf))
    }

    override protected def withNewChildInternal(newChild: Expression): Bm25Counts =
      copy(child = newChild)
  }

  def bm25Counts(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(Bm25Counts(ColumnBridge.expression(text), terms))

  /** Per-document unigram Shannon entropy in ONE pass — tokenize,
    * count, and fold H = ln T − (Σ c·ln c)/T without leaving the row.
    * The composed form (explode → (doc, tok) count → per-doc sum) pays
    * two corpus-sized shuffles for a value that is a pure function of
    * the row; this kernel makes the operator a shuffle-free projection
    * (the same hot-path rule as TextStats/Bm25Counts).
    *
    * Bitwise parity with the composed plan (pinned in TextEntropySpec):
    * ln is the 20-sqrt detLn series on the SAME IEEE doubles, each
    * c·ln(c) term is rounded to scale 12 exactly as Spark's
    * double→decimal cast does (Double.toString canonical BigDecimal,
    * HALF_UP at scale 12 — the composed witness casts to
    * DECIMAL(38,12), wide enough that the ~88k-repeat corpus that
    * overflows DECIMAL(18,12) still fits), terms accumulate exactly
    * (unbounded BigDecimal at scale 12 — the decimal sum is
    * order-free), and the final divide/subtract are the same two
    * double ops. Returns null for a tokenless document — the composed
    * groupBy drops those rows; callers filter. */
  case class UnigramEntropy(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def nullable: Boolean = true
    override protected def kernelNullable: Boolean = true // tokenless doc
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("entropy", DoubleType, nullable = false)))
    override def prettyName: String = "unigram_entropy"

    private def detLn(x: Double): Double = {
      var r = x
      var i = 0
      while (i < 20) { r = java.lang.Math.sqrt(r); i += 1 }
      val t = r - 1.0
      (t - t * t / 2.0 + t * t * t / 3.0) * 1048576.0
    }

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.InternalRow = {
      // same rule as Bm25Counts: lowercase through Spark's own kernel
      val s = input.toLowerCase.toString
      val n = s.length
      val counts = new java.util.HashMap[String, Array[Long]]()
      var total = 0L
      var i = 0
      var start = 0
      def flush(end: Int): Unit = if (end > start) {
        total += 1
        val tok = s.substring(start, end)
        val c = counts.get(tok)
        if (c == null) counts.put(tok, Array(1L))
        else c(0) += 1
      }
      while (i < n) {
        if (s.charAt(i) == ' ') { flush(i); start = i + 1 }
        i += 1
      }
      flush(n)
      if (total == 0) return null
      var acc = java.math.BigDecimal.ZERO
      val it = counts.values.iterator
      while (it.hasNext) {
        val c = it.next()(0).toDouble
        val term = c * detLn(c)
        acc = acc.add(new java.math.BigDecimal(java.lang.Double.toString(term))
          .setScale(12, java.math.RoundingMode.HALF_UP))
      }
      val entropy = detLn(total.toDouble) - acc.doubleValue() / total.toDouble
      org.apache.spark.sql.catalyst.InternalRow(total, entropy)
    }

    override protected def withNewChildInternal(newChild: Expression): UnigramEntropy =
      copy(child = newChild)
  }

  def unigramEntropy(text: Column): Column =
    ColumnBridge.column(UnigramEntropy(ColumnBridge.expression(text)))

  /** Trino `hamming_distance(a, b)`: differing code-point positions of
    * two equal-length strings (errors on length mismatch, like Trino). */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression with DeclaredInputTypes {
    override def dataType: DataType = LongType
    override def declaredInputTypes: Seq[DataType] = Seq(StringType, StringType)
    override def prettyName: String = "hamming_distance"

    protected override def nullSafeEval(a: Any, b: Any): Any =
      kernel(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    // fuses into whole-stage codegen — this expression sits in JOIN
    // conditions (embed_srp_topdups), where a fallback forces the whole
    // predicate to interpreted eval per candidate pair (guide §4)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("hammingDist", this)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
    }

    def kernel(a: org.apache.spark.unsafe.types.UTF8String,
        b: org.apache.spark.unsafe.types.UTF8String): Long = {
      val sa = a.toString
      val sb = b.toString
      val na = sa.codePointCount(0, sa.length)
      val nb = sb.codePointCount(0, sb.length)
      if (na != nb) throw new IllegalArgumentException(
        s"hamming_distance: the input strings must have the same length ($na vs $nb)")
      var ia = 0
      var ib = 0
      var d = 0L
      while (ia < sa.length) {
        val ca = sa.codePointAt(ia)
        val cb = sb.codePointAt(ib)
        if (ca != cb) d += 1L
        ia += Character.charCount(ca)
        ib += Character.charCount(cb)
      }
      d
    }

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingDist =
      copy(left = newLeft, right = newRight)
  }

  /** BPE encode: apply a trained merge table (TextAnalysis.bpeTrain) to
    * a document, emitting one encoded word string per `[a-z0-9]+` word
    * in the delimiter-wrapped form the trainer uses (`<he><l><lo>`).
    *
    * Merges are applied IN TRAINING ORDER, each as a left-to-right
    * non-overlapping scan — exactly the trainer's `replace(w, pair,
    * merged)` semantics, so encode(word) equals the trained vocab row
    * for every training word (pinned in TextAnalysisSpec) and the
    * DuckDB oracle can replay it with the same replace chain.
    *
    * Scale shape: the merge table is model-sized driver state baked
    * into the expression (broadcast with the task like the k-means
    * centroid literals); encoding is a pure per-row projection — zero
    * shuffle, nothing corpus-sized anywhere. Words repeat heavily, so
    * a per-task memo (word → encoding) makes the common path a hash
    * lookup; a benign race between task threads just recomputes. */
  case class BpeEncodeWords(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def prettyName: String = "bpe_encode_words"

    @transient private lazy val memo = new java.util.HashMap[String, String]()

    private def isWord(w: String): Boolean = {
      if (w.isEmpty) return false
      var i = 0
      while (i < w.length) {
        val c = w.charAt(i)
        if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))) return false
        i += 1
      }
      true
    }

    private def encodeWord(w: String): String = {
      val cached = memo.get(w)
      if (cached != null) return cached
      var syms = new java.util.ArrayList[String](w.length)
      var i = 0
      while (i < w.length) { syms.add(String.valueOf(w.charAt(i))); i += 1 }
      merges.foreach { case (left, right) =>
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == left && syms.get(j + 1) == right) {
            out.add(left + right); j += 2   // non-overlapping, no rescan
          } else { out.add(syms.get(j)); j += 1 }
        }
        syms = out
      }
      val sb = new java.lang.StringBuilder(w.length + 2 * syms.size)
      var k = 0
      while (k < syms.size) { sb.append('<').append(syms.get(k)).append('>'); k += 1 }
      val enc = sb.toString
      memo.put(w, enc)
      enc
    }

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val words = input.toString.split(' ')
      val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](words.length)
      var i = 0
      while (i < words.length) {
        val w = words(i)
        if (isWord(w))
          out.add(org.apache.spark.unsafe.types.UTF8String.fromString(encodeWord(w)))
        i += 1
      }
      new GenericArrayData(out.toArray[AnyRef](new Array[AnyRef](out.size)))
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncodeWords =
      copy(child = newChild)
  }

  def bpeEncodeWords(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeWords(ColumnBridge.expression(text), merges))

  /** URL canonicalization as ONE native pass — the fused form of the
    * UrlOps.canonicalize composition (5 regexes + splits + an
    * interpreted HOF filter per row on the crawl-dedup hot path).
    * Byte-for-byte replication of the composition's string algebra,
    * pinned by UrlOpsSpec's kernel≡composition property over generated
    * URL soup and by the dedup_url oracle:
    *  - `split_part(url,'#',1)`: cut at the FIRST '#';
    *  - scheme `^[^:/?#]+://`: the first {:,/,?,#} char in the string
    *    must be the ':' of "://" with ≥1 char before it, else the
    *    fragment-stripped string returns unchanged;
    *  - host/port = up to the first '/' or '?'; lowercased via
    *    UTF8String.toLowerCase (the lower() builtin's own kernel);
    *    leading "www." stripped AFTER lowering; scheme-default port
    *    (":443" https / ":80" http) stripped after that;
    *  - query = after the FIRST '?' (later '?' are content); params
    *    split on '&', empties and tracking params dropped — the
    *    tracking test replicates `^(utm_[a-z_]+|ref|fbclid|gclid)=`
    *    (maximal [a-z_] run then '=' is exact for this regex — '=' is
    *    outside the class, so greedy backtracking never helps);
    *  - trailing '/'-run of the path collapsed. */
  case class CanonicalizeUrl(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = StringType
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def prettyName: String = "canonicalize_url"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    // lower() builtin parity: route through UTF8String.toLowerCase
    private def lower(s: String): String =
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
        .toLowerCase.toString

    def kernel(input: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.unsafe.types.UTF8String = {
      val url = input.toString
      val hashAt = url.indexOf('#')
      val noFrag = if (hashAt < 0) url else url.substring(0, hashAt)
      val n = noFrag.length
      var i = 0
      while (i < n && {
        val c = noFrag.charAt(i)
        c != ':' && c != '/' && c != '?' && c != '#'
      }) i += 1
      val hasScheme = i > 0 && i + 2 < n && noFrag.charAt(i) == ':' &&
        noFrag.charAt(i + 1) == '/' && noFrag.charAt(i + 2) == '/'
      if (!hasScheme)
        return org.apache.spark.unsafe.types.UTF8String.fromString(noFrag)
      val scheme = lower(noFrag.substring(0, i))
      val rest = noFrag.substring(i + 3)
      val rn = rest.length
      var j = 0
      while (j < rn && rest.charAt(j) != '/' && rest.charAt(j) != '?') j += 1
      val hostPort = rest.substring(0, j)
      val pathq = rest.substring(j)
      val qAt = pathq.indexOf('?')
      val path = if (qAt < 0) pathq else pathq.substring(0, qAt)
      val query = if (qAt < 0) "" else pathq.substring(qAt + 1)
      var host = lower(hostPort)
      if (host.startsWith("www.")) host = host.substring(4)
      if (scheme == "https" && host.endsWith(":443"))
        host = host.substring(0, host.length - 4)
      else if (scheme == "http" && host.endsWith(":80"))
        host = host.substring(0, host.length - 3)
      val sb = new java.lang.StringBuilder(url.length)
      sb.append(scheme).append("://").append(host)
      var pe = path.length
      while (pe > 0 && path.charAt(pe - 1) == '/') pe -= 1
      sb.append(path, 0, pe)
      if (qAt >= 0) {
        var first = true
        var s = 0
        var k = 0
        val qn = query.length
        while (k <= qn) {
          if (k == qn || query.charAt(k) == '&') {
            if (k > s && !isTracking(query, s, k)) {
              if (first) { sb.append('?'); first = false }
              else sb.append('&')
              sb.append(query, s, k)
            }
            s = k + 1
          }
          k += 1
        }
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
    }

    /** `^(utm_[a-z_]+|ref|fbclid|gclid)=` over the param q[s, e). */
    private def isTracking(q: String, s: Int, e: Int): Boolean = {
      def lit(w: String): Boolean =
        e - s > w.length && q.regionMatches(s, w, 0, w.length) &&
          q.charAt(s + w.length) == '='
      if (lit("ref") || lit("fbclid") || lit("gclid")) return true
      if (e - s > 4 && q.regionMatches(s, "utm_", 0, 4)) {
        var m = s + 4
        while (m < e && {
          val c = q.charAt(m)
          (c >= 'a' && c <= 'z') || c == '_'
        }) m += 1
        m > s + 4 && m < e && q.charAt(m) == '='
      } else false
    }

    override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
      copy(child = newChild)
  }

  def canonicalizeUrl(url: Column): Column =
    ColumnBridge.column(CanonicalizeUrl(ColumnBridge.expression(url)))

  /** Trino `normalize(s[, form])`: Unicode normalization (NFC default). */
  case class NormalizeStr(child: Expression, form: String)
      extends UnaryExpression with CodegenFallback with DeclaredInputTypes {
    private val normForm = java.text.Normalizer.Form.valueOf(form)
    override def dataType: DataType = StringType
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def prettyName: String = "normalize"

    protected override def nullSafeEval(input: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(input.toString, normForm))

    override protected def withNewChildInternal(newChild: Expression): NormalizeStr =
      copy(child = newChild)
  }

  /** Trino `combinations(array(T), n)`: all n-element subsequences in
    * index order, n capped at 5 exactly like Trino (output size is
    * C(len, n) — the cap is what keeps a wide row from exploding a
    * task). Generic over the element type, so the type check is manual
    * rather than via DeclaredInputTypes; CodegenFallback because the
    * combinatorial emit loop dominates any codegen win. */
  case class Combinations(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def prettyName: String = "combinations"
    override def dataType: DataType = ArrayType(left.dataType)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      (left.dataType, right.dataType) match {
        case (_: ArrayType, ByteType | ShortType | IntegerType | LongType) =>
          TypeCheckSuccess
        case (l, r) => TypeCheckFailure(
          s"combinations expects (array, integer), got (${l.sql}, ${r.sql})")
      }
    }

    protected override def nullSafeEval(arr: Any, nAny: Any): Any = {
      val n = nAny match {
        case b: Byte => b.toInt
        case s: Short => s.toInt
        case i: Int => i
        case l: Long => l.toInt
      }
      require(n >= 0 && n <= 5, s"combinations size must be in [0, 5]: $n")
      val elemType = left.dataType.asInstanceOf[ArrayType].elementType
      val items = arr.asInstanceOf[ArrayData].toObjectArray(elemType)
      val len = items.length
      if (n > len) return new GenericArrayData(Array.empty[Any])
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      val idx = Array.tabulate(n)(identity)
      var done = false
      while (!done) {
        out += new GenericArrayData(idx.map(items(_)))
        // advance the rightmost index that still has headroom
        var i = n - 1
        while (i >= 0 && idx(i) == len - n + i) i -= 1
        if (i < 0) done = true
        else {
          idx(i) += 1
          var j = i + 1
          while (j < n) { idx(j) = idx(j - 1) + 1; j += 1 }
        }
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Combinations =
      copy(left = newLeft, right = newRight)
  }

  /** Gopher-style compression-ratio quality signal (Rae et al. 2021 use
    * document compressibility as a repetition/boilerplate proxy; DCLM
    * and RefinedWeb keep it in their filter banks): DEFLATE(text) size
    * ÷ raw UTF-8 size. Highly repetitive machine-generated text
    * compresses far below ~0.4; natural prose sits ~0.6-1.0. Pure
    * per-row projection — no shuffle, bytes never leave the executor.
    * The Deflater is JDK-native zlib; a thread-local instance is
    * reset()-reused so the hot loop does not allocate native handles
    * per row. Level 6 (zlib default) pinned for determinism within a
    * JVM; tests pin ordering invariants, not exact byte counts. */
  case class DeflateRatio(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen with DeclaredInputTypes {
    override def dataType: DataType = DoubleType
    override def declaredInputTypes: Seq[DataType] = Seq(StringType)
    override def prettyName: String = "deflate_ratio"

    protected override def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def kernel(input: org.apache.spark.unsafe.types.UTF8String): Double = {
      val bytes = input.getBytes
      if (bytes.isEmpty) 0.0
      else {
        val d = DeflateRatio.local.get()
        d.reset()
        d.setInput(bytes)
        d.finish()
        var compressed = 0L
        val buf = DeflateRatio.buffer.get()
        while (!d.finished()) compressed += d.deflate(buf)
        compressed.toDouble / bytes.length
      }
    }

    override protected def withNewChildInternal(newChild: Expression): DeflateRatio =
      copy(child = newChild)
  }

  object DeflateRatio {
    private val local = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(6, true))
    private val buffer = ThreadLocal.withInitial[Array[Byte]](() =>
      new Array[Byte](8192))
  }

  def deflateRatio(text: Column): Column =
    ColumnBridge.column(DeflateRatio(ColumnBridge.expression(text)))

  /** Trino `typeof(x)`: the argument's TYPE rendered with Trino's own
    * type names (the metadata service's mapper, so `typeof()` and
    * DESCRIBE agree). The value is never evaluated — the name is a
    * plan-time constant — but the expression stays unary so the
    * analyzer still type-checks the argument like Trino does. */
  case class TypeOfTrino(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "typeof"
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def foldable: Boolean = true

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        graft.service.TypeNames.trino(child.dataType))

    override protected def withNewChildInternal(newChild: Expression): TypeOfTrino =
      copy(child = newChild)
  }

  /** Trino `array_histogram(array(T))`: map from each distinct element
    * to its count, null elements ignored (empty map if all-null).
    * Generic over the element type like [[Combinations]]; first-seen
    * key order. */
  case class ArrayHistogram(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def prettyName: String = "array_histogram"
    override def dataType: DataType = MapType(
      child.dataType.asInstanceOf[ArrayType].elementType, LongType,
      valueContainsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      child.dataType match {
        case ArrayType(e, _) if !e.isInstanceOf[MapType] => TypeCheckSuccess
        case t => TypeCheckFailure(
          s"array_histogram expects an array of map-key-able elements, got ${t.sql}")
      }
    }

    protected override def nullSafeEval(arr: Any): Any = {
      val elemType = child.dataType.asInstanceOf[ArrayType].elementType
      val items = arr.asInstanceOf[ArrayData].toObjectArray(elemType)
      val counts = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      items.foreach { e =>
        if (e != null) counts.update(e, counts.getOrElse(e, 0L) + 1L)
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(counts.keys.toArray),
        new GenericArrayData(counts.values.map(x => x: Any).toArray))
    }

    override protected def withNewChildInternal(newChild: Expression): ArrayHistogram =
      copy(child = newChild)
  }

  /** Trino's `array_cum_sum(array(T)) → array(T)`: per-position running
    * sum with Trino's null rule — the positions AT and AFTER the first
    * NULL element are NULL (not skipped). Result element type follows
    * Trino: integral stays integral with overflow RAISING
    * (Math.addExact), real/double accumulate in their own width,
    * decimal(p, s) widens to decimal(38, s). One linear pass over
    * ArrayData; Spark has no running-sum primitive (an
    * aggregate()-with-array-accumulator composition is O(n²) and
    * type-lossy). */
  case class ArrayCumSum(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

    private def elemType: DataType = child.dataType match {
      case ArrayType(et, _) => et
      case _ => NullType
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"array_cum_sum expects array(numeric), got ${other.simpleString}")
    }

    override def dataType: DataType = elemType match {
      case dt: DecimalType =>
        ArrayType(DecimalType(DecimalType.MAX_PRECISION, dt.scale), containsNull = true)
      case et => ArrayType(et, containsNull = true)
    }
    override def prettyName: String = "array_cum_sum"

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Any](n)
      var nulled = false
      var i = 0
      elemType match {
        case LongType | IntegerType | ShortType | ByteType =>
          var s = 0L
          while (i < n) {
            if (nulled || arr.isNullAt(i)) { nulled = true; out(i) = null }
            else {
              val v = elemType match {
                case LongType => arr.getLong(i)
                case IntegerType => arr.getInt(i).toLong
                case ShortType => arr.getShort(i).toLong
                case _ => arr.getByte(i).toLong
              }
              s = Math.addExact(s, v)
              out(i) = elemType match {
                case LongType => s
                case IntegerType => Math.toIntExact(s)
                case ShortType =>
                  if (s < Short.MinValue || s > Short.MaxValue)
                    throw new ArithmeticException("smallint overflow in array_cum_sum")
                  s.toShort
                case _ =>
                  if (s < Byte.MinValue || s > Byte.MaxValue)
                    throw new ArithmeticException("tinyint overflow in array_cum_sum")
                  s.toByte
              }
            }
            i += 1
          }
        case DoubleType =>
          var s = 0.0
          while (i < n) {
            if (nulled || arr.isNullAt(i)) { nulled = true; out(i) = null }
            else { s += arr.getDouble(i); out(i) = s }
            i += 1
          }
        case FloatType =>
          var s = 0.0f
          while (i < n) {
            if (nulled || arr.isNullAt(i)) { nulled = true; out(i) = null }
            else { s += arr.getFloat(i); out(i) = s }
            i += 1
          }
        case dt: DecimalType =>
          val (p, sc) = (dt.precision, dt.scale)
          var s = java.math.BigDecimal.ZERO
          while (i < n) {
            if (nulled || arr.isNullAt(i)) { nulled = true; out(i) = null }
            else {
              s = s.add(arr.getDecimal(i, p, sc).toJavaBigDecimal)
              out(i) = Decimal(s, DecimalType.MAX_PRECISION, sc)
            }
            i += 1
          }
        case other => throw new IllegalStateException(
          s"array_cum_sum: unreachable element type $other")
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): ArrayCumSum =
      copy(child = newChild)
  }
}
