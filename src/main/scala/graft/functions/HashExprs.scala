package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity/dedup hot paths.
  *
  * The declarative alternatives (`aggregate(zip_with(...))`, per-char
  * lambda folds) run interpreted inside higher-order functions and
  * allocate per element; these run as tight loops inside whole-stage
  * codegen (`doGenCode`), which is the preferred extension point before
  * any UDF (see the project contract: functions > Expression > UDF). */

/** Int64 dot product of two ArrayType(LongType) columns. */
case class LongDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Pack an ArrayType(LongType) of int16-range values into a little-endian
  * 2-byte-per-element BINARY — the shuffle-compact twin of the qv array.
  *
  * Why: a 64-dim quantized vector is 512 B + offsets as array<long> but
  * 128 B as packed int16s (components are 1e-4 ticks of unit-norm floats,
  * so |x| ≤ 10000 < 2^15 by construction). On the LSH pair path the
  * candidate side re-shuffles one vector payload PER CANDIDATE PAIR —
  * at 100× that is tens of millions of rows, and payload width is the
  * shuffle. Out-of-range input throws (fail-loud: silent truncation
  * would corrupt every downstream cosine). */
case class PackShortsExpr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_shorts"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      if (x < Short.MinValue || x > Short.MaxValue)
        throw new IllegalArgumentException(s"pack_shorts: $x out of int16 range")
      out(2 * i) = (x & 0xff).toByte
      out(2 * i + 1) = ((x >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n * 2];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $a.getLong($i);
         |  if ($x < java.lang.Short.MIN_VALUE || $x > java.lang.Short.MAX_VALUE)
         |    throw new IllegalArgumentException("pack_shorts: out of int16 range");
         |  $out[2 * $i] = (byte) ($x & 0xff);
         |  $out[2 * $i + 1] = (byte) (($x >> 8) & 0xff);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Int64 dot product over two pack_shorts BINARY vectors — bit-identical
  * to LongDotExpr over the arrays they were packed from (int16 values are
  * exact in the int64 accumulation), at one quarter of the shuffle
  * bytes. */
case class ShortDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] =
    Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "short_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length) / 2
    var s = 0L
    var i = 0
    while (i < n) {
      val xi = ((x(2 * i) & 0xff) | (x(2 * i + 1) << 8)).toShort.toLong
      val yi = ((y(2 * i) & 0xff) | (y(2 * i + 1) << 8)).toShort.toLong
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length) / 2;
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xi = (short) (($a[2 * $i] & 0xff) | ($a[2 * $i + 1] << 8));
         |  long $yi = (short) (($b[2 * $i] & 0xff) | ($b[2 * $i + 1] << 8));
         |  $s += $xi * $yi;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two int64 arrays — the exact-distance twin of
  * LongDotExpr, with the same whole-stage-codegen loop body (the oracle's
  * list_reduce/list_transform formulation is interpreted per row; the
  * brute-force truth scans and the re-rank stage run this N·queries
  * times, so the tight generated loop is the difference between a codegen
  * scan and a per-row lambda interpreter at 1e9 vectors). */
case class LongL2Expr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "long_l2"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Rolling polynomial hash h -> (h*prime + byte) % mod over a string's
  * UTF-8 bytes. Identical to a per-character ascii() fold for ASCII
  * input (the oracle's formulation). */
case class ByteRollHashExpr(child: Expression, prime: Long, mod: Long)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "byte_roll_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * prime + (bytes(i) & 0xff)) % mod; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * ${prime}L + ($bytes[$i] & 0xff)) % ${mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All minhash permutations in one pass: for each affine perm j,
  * min over the input array of (a(j)*x + b(j)) % mod. Returns
  * array<long> of length a.length. Replaces NumPerms separate
  * interpreted transform+array_min passes (and their per-perm array
  * allocations) with a single codegen'd loop. */
case class MinHashExpr(child: Expression, a: Seq[Long], b: Seq[Long], mod: Long)
  extends UnaryExpression with ExpectsInputTypes {

  require(a.length == b.length)

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_affine"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(a.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = 0
      while (j < a.length) {
        val h = (a(j) * x + b(j)) % mod
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val k = a.length
      val pa = ctx.addReferenceObj("permA", a.toArray, "long[]")
      val pb = ctx.addReferenceObj("permB", b.toArray, "long[]")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      s"""
         |int $n = $c.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $c.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $h = ($pa[$j] * $x + $pb[$j]) % ${mod}L;
         |    if ($h < $mins[$j]) $mins[$j] = $h;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All LSH table signatures of a quantized vector in ONE fused pass:
  * for table t, signature = Σ_p (dot(qv, w[t·planes+p]) > 0 ? 1<<p : 0),
  * returned as an array of `tables` longs. `weights` is the flattened
  * ±1 hyperplane matrix (totalPlanes × dim, row-major), shipped once as
  * a codegen reference object. Integer math is bit-identical to the
  * unfused `when(long_dot(qv, w) > 0, 1<<p)` sum it replaces — the point
  * is PLAN SHAPE, not semantics: at derived 100 TB sizings (hundreds of
  * planes) the unfused form is hundreds of separate dot expressions in
  * one projection, which overflows the JIT/codegen method budget and
  * drops the whole signature build to interpreted eval (measured 133 s
  * for 200k vectors at 13×15 planes); this runs as one tight generated
  * loop however many planes the sizing resolves. */
case class LshSignaturesExpr(child: Expression, weights: Array[Long],
    tables: Int, planes: Int)
  extends UnaryExpression with ExpectsInputTypes {

  // Array fields compare by reference in a case class, which would make
  // semantically identical instances never equal and defeat Catalyst
  // canonicalization / common-subexpression elimination of the signature
  // build — compare the weight CONTENTS instead.
  override def equals(other: Any): Boolean = other match {
    case o: LshSignaturesExpr =>
      child == o.child && tables == o.tables && planes == o.planes &&
        java.util.Arrays.equals(weights, o.weights)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(tables), Int.box(planes),
      Int.box(java.util.Arrays.hashCode(weights)))

  private val dim = weights.length / (tables * planes)
  require(tables * planes * dim == weights.length,
    s"weights length ${weights.length} != tables*planes*dim")

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_signatures"

  override protected def nullSafeEval(input: Any): Any = {
    val qv = input.asInstanceOf[ArrayData]
    val n = math.min(qv.numElements(), dim)
    val sigs = new Array[Long](tables)
    var k = 0
    while (k < tables * planes) {
      var s = 0L
      val off = k * dim
      var i = 0
      while (i < n) { s += qv.getLong(i) * weights(off + i); i += 1 }
      if (s > 0) sigs(k / planes) |= (1L << (k % planes))
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val w = ctx.addReferenceObj("lshWeights", weights, "long[]")
      val sigs = ctx.freshName("sigs")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($c.numElements(), $dim);
         |long[] $sigs = new long[$tables];
         |for (int $k = 0; $k < ${tables * planes}; $k++) {
         |  long $s = 0L;
         |  int $off = $k * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $c.getLong($i) * $w[$off + $i];
         |  }
         |  if ($s > 0) $sigs[$k / $planes] |= (1L << ($k % $planes));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused nearest-centroid assignment: argmax over a plan-time-constant
  * centroid table of the EXACT cosine chain the join formulation
  * computes — cos = dot / (sqrt(n2) · sqrt(sn2)), ties to the smaller
  * seed id — as one codegen loop per row.
  *
  * Why: the declarative form is crossJoin(broadcast(seeds)) → N×cells
  * joined rows through a max-struct aggregate. At the 100× point that
  * is 156M materialized rows for what is arithmetically one loop over
  * the centroid table per vector; the expression keeps the centroids as
  * a reference object (the LshSignaturesExpr pattern) and emits only
  * the winning seed id. The double chain is textually the same IEEE
  * expression tree, so the assignment — including rounding-created
  * cosine TIES and their smaller-id resolution — is bit-identical to
  * the join+aggregate and to the DuckDB oracle. */
case class NearestCellExpr(left: Expression, right: Expression,
    seedIds: Array[Long], flatVecs: Array[Long], norms: Array[Long], dim: Int)
  extends BinaryExpression with ExpectsInputTypes {

  require(seedIds.length == norms.length &&
    flatVecs.length == seedIds.length * dim, "centroid table shape mismatch")

  // array fields compare by reference in a case class — content-compare
  // so Catalyst canonicalization/CSE see identical assignments as equal
  override def equals(other: Any): Boolean = other match {
    case o: NearestCellExpr =>
      left == o.left && right == o.right && dim == o.dim &&
        java.util.Arrays.equals(seedIds, o.seedIds) &&
        java.util.Arrays.equals(flatVecs, o.flatVecs) &&
        java.util.Arrays.equals(norms, o.norms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(left, right, Int.box(dim),
      Int.box(java.util.Arrays.hashCode(seedIds)),
      Int.box(java.util.Arrays.hashCode(flatVecs)),
      Int.box(java.util.Arrays.hashCode(norms)))

  override def inputTypes: Seq[GraftShim.AbstractDataType] =
    Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val qv = a.asInstanceOf[ArrayData]
    val an2 = b.asInstanceOf[Long]
    // Precondition: a zero probe norm makes every cosine
    // 0/0 = NaN and the argmax would silently emit the Long.MaxValue
    // sentinel as a seed id. Callers filter n2 > 0 (Similarity.vectors);
    // fail loud here so unfiltered input can never fabricate an id.
    if (an2 <= 0L) throw new IllegalArgumentException(
      "nearest_cell: probe norm must be > 0 (filter zero vectors first)")
    val n = math.min(qv.numElements(), dim)
    val sa = math.sqrt(an2.toDouble)
    var bestCos = Double.NegativeInfinity
    var bestId = Long.MaxValue
    var c = 0
    while (c < seedIds.length) {
      var dot = 0L
      val off = c * dim
      var i = 0
      while (i < n) { dot += qv.getLong(i) * flatVecs(off + i); i += 1 }
      val cos = dot.toDouble / (sa * math.sqrt(norms(c).toDouble))
      if (cos > bestCos || (cos == bestCos && seedIds(c) < bestId)) {
        bestCos = cos
        bestId = seedIds(c)
      }
      c += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ids = ctx.addReferenceObj("ncIds", seedIds, "long[]")
      val vecs = ctx.addReferenceObj("ncVecs", flatVecs, "long[]")
      val nr = ctx.addReferenceObj("ncNorms", norms, "long[]")
      val n = ctx.freshName("n")
      val sa = ctx.freshName("sa")
      val bestCos = ctx.freshName("bestCos")
      val bestId = ctx.freshName("bestId")
      val c = ctx.freshName("c")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val i = ctx.freshName("i")
      val cos = ctx.freshName("cos")
      s"""
         |if ($b <= 0L) {
         |  throw new IllegalArgumentException(
         |    "nearest_cell: probe norm must be > 0 (filter zero vectors first)");
         |}
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |double $sa = java.lang.Math.sqrt((double) $b);
         |double $bestCos = java.lang.Double.NEGATIVE_INFINITY;
         |long $bestId = java.lang.Long.MAX_VALUE;
         |for (int $c = 0; $c < $ids.length; $c++) {
         |  long $dot = 0L;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getLong($i) * $vecs[$off + $i];
         |  }
         |  double $cos = (double) $dot / ($sa * java.lang.Math.sqrt((double) $nr[$c]));
         |  if ($cos > $bestCos || ($cos == $bestCos && $ids[$c] < $bestId)) {
         |    $bestCos = $cos;
         |    $bestId = $ids[$c];
         |  }
         |}
         |${ev.value} = $bestId;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused bigram-shingle hashing: from a token array, the distinct rolling
  * byte hashes of every adjacent pair "tokᵢ tokᵢ₊₁", in first-seen order.
  * Equivalent to transform(sequence)+concat+roll-hash+array_distinct but
  * as one eval loop with no intermediate string/array allocation.
  * CodegenFallback: the expression is invoked once per ROW (5e3..1e9 rows),
  * so the per-call fallback overhead is noise next to the per-byte work. */
case class ShingleHashSetExpr(child: Expression, prime: Long, mod: Long)
  extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"

  private def rollBytes(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h = (h * prime + (bytes(i) & 0xff)) % mod; i += 1 }
    h
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.empty[Long])
    val toks = Array.tabulate(n)(i => arr.getUTF8String(i).getBytes)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < n - 1) {
      var h = rollBytes(0L, toks(i))
      h = (h * prime + 32L) % mod // the ' ' joiner byte
      h = rollBytes(h, toks(i + 1))
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** N-token generalization of [[ShingleHashSetExpr]]: the distinct rolling
  * byte hashes of every window "tokᵢ … tokᵢ₊ₙ₋₁" joined by single spaces,
  * in first-seen order. The hash of each window is byte-for-byte the
  * rolling hash of the joined string, so the DuckDB mirror is
  * `fpSql(tk[i] || ' ' || … || tk[i+n-1])` — the same one-definition-point
  * contract as the bigram expression. CodegenFallback for the same
  * once-per-row reason. */
case class NgramHashSetExpr(child: Expression, n: Int, prime: Long, mod: Long)
  extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, "ngram width must be >= 1")

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hash_set"

  private def rollBytes(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h = (h * prime + (bytes(i) & 0xff)) % mod; i += 1 }
    h
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    if (cnt < n) return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.empty[Long])
    val toks = Array.tabulate(cnt)(i => arr.getUTF8String(i).getBytes)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= cnt - n) {
      var h = rollBytes(0L, toks(i))
      var k = 1
      while (k < n) {
        h = (h * prime + 32L) % mod // the ' ' joiner byte
        h = rollBytes(h, toks(i + k))
        k += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass SimHash over an int64 array: per bit position, count elements
  * with the bit set; the output bit is 1 when strictly more elements set
  * it than clear it. Replaces `bits` separate interpreted filter passes
  * over the array. CodegenFallback — invoked once per row, the per-call
  * overhead is noise next to the per-element×per-bit work. */
case class SimHashExpr(child: Expression, bits: Int)
  extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_bits"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = 0
      while (j < bits) {
        counts(j) += ((x >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var h = 0L
    var j = 0
    while (j < bits) {
      if (2 * counts(j) > n) h |= 1L << j
      j += 1
    }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Big-endian unsigned integer field at a FIXED byte offset of a BINARY
  * column — the EXIF/ISOBMFF-style header-field probe (magic number,
  * dimension word, sample-rate word live at spec-pinned offsets of a
  * media container). NULL when the payload is shorter than
  * offset+width: a truncated header means "field absent", not an error
  * — the same contract as a missing column in the CDC filters.
  *
  * This is the multimodal family's codegen'd member (SURVEY §2 row
  * 183): unlike the row-28 mapPartitions decode stand-in, a header
  * probe needs no codec, so it runs as a tight byte loop inside
  * whole-stage codegen with column pruning and pushdown intact. Width
  * is capped at 4 so the unsigned value always fits a long. */
case class BinaryBeFieldExpr(child: Expression, offset: Int, width: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(offset >= 0 && width >= 1 && width <= 4,
    s"binary_be_field: offset $offset / width $width out of contract")

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "binary_be_field"

  override protected def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.length < offset + width) null
    else {
      var x = 0L
      var i = 0
      while (i < width) { x = (x << 8) | (b(offset + i) & 0xffL); i += 1 }
      x
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val x = ctx.freshName("x")
      val i = ctx.freshName("i")
      s"""
         |if ($c.length < ${offset + width}) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $x = 0L;
         |  for (int $i = 0; $i < $width; $i++) {
         |    $x = ($x << 8) | ($c[$offset + $i] & 0xffL);
         |  }
         |  ${ev.value} = $x;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined chunk boundaries over a BINARY payload — the
  * LBFS/rsync rolling-cut scheme (Muthitacharoen et al. SOSP'01), i.e.
  * row 89's insertion-robust chunking applied at BYTE level to the
  * multimodal payload so binary corpora dedup at sub-payload
  * granularity. The engine's K-byte gram hash (the [[WinnowHashExpr]]
  * roll: subtract the outgoing byte's P^(K-1) term, shift, add the
  * incoming byte) is evaluated at every byte position; a chunk CLOSES
  * after the gram's last byte when
  * `gram % p2 * mix % p2 % boundaryMod == 0` — the row-89 contentChunks
  * flag rule verbatim, so both chunkers cut on the same hash family.
  * The gram stream rolls CONTINUOUSLY across cuts (cut decisions depend
  * only on the local K bytes — inserting bytes re-synchronizes within K,
  * the CDC property); each chunk carries its own rolling polynomial
  * fingerprint, reset at the cut. A payload shorter than K bytes has no
  * gram and is one whole-payload chunk; the tail after the last cut is
  * the final chunk. Returns array<struct<start, len, fp>> in one
  * generated call per row (the reference-object pattern) — no per-byte
  * explode, no mapPartitions barrier. */
case class BinaryCdcChunksExpr(child: Expression, k: Int, boundaryMod: Long,
    prime: Long, mod: Long, p2: Long, mix: Long)
  extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && boundaryMod >= 1 && p2 >= 1,
    s"binary_cdc_chunks: k=$k boundaryMod=$boundaryMod p2=$p2 out of contract")

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("start", LongType, nullable = false),
      StructField("len", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "binary_cdc_chunks"

  // P^(K-1) mod M — the outgoing byte's positional weight
  private val pk1: Long = {
    var r = 1L; var i = 1
    while (i < k) { r = r * prime % mod; i += 1 }
    r
  }

  /** bytes → chunk rows. Public: eval and codegen share it through a
    * codegen reference object. */
  def compute(bytes: Array[Byte]): ArrayData = {
    val n = bytes.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    var fp = 0L
    var h = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      fp = (fp * prime + b) % mod
      if (i < k) h = (h * prime + b) % mod
      else {
        var t = (h - (bytes(i - k) & 0xff) * pk1 % mod) % mod
        if (t < 0) t += mod
        h = (t * prime + b) % mod
      }
      if (i >= k - 1 && h % p2 * mix % p2 % boundaryMod == 0) {
        out += org.apache.spark.sql.catalyst.InternalRow(
          start.toLong, (i - start + 1).toLong, fp)
        start = i + 1
        fp = 0L
      }
      i += 1
    }
    if (start < n)
      out += org.apache.spark.sql.catalyst.InternalRow(
        start.toLong, (n - start).toLong, fp)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("cdcChunker", this,
        classOf[BinaryCdcChunksExpr].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character-collision index of a STRING column in parts-per-million:
  * floor(1e6 · Σ c·(c−1) / (n·(n−1))) over the per-character counts c of
  * the n-character string — the probability that two characters drawn
  * without replacement collide. This is the Simpson/collision form of
  * character entropy: high ppm = a degenerate character distribution
  * (`aaaa…`, base64 walls, padding runs), the repetitive-junk signal a
  * perplexity filter would catch, in pure integer arithmetic (the
  * project's log-free rule — no float log whose last-ulp could disagree
  * with an oracle engine at a floor boundary). NULL for n < 2, where the
  * collision probability is undefined.
  *
  * Two tight passes per row inside whole-stage codegen: a 65536-wide
  * count array lives in operator mutable state (allocated once, not per
  * row) and the second pass re-walks the string to sum AND zero exactly
  * the entries this row touched — per-row cost O(n), never O(alphabet),
  * and the array is clean for the next row. Counts are UTF-16
  * code units, identical to per-character counts through the BMP (the
  * corpus contract is ASCII text). Exact (no overflow) for n up to ~3.0M
  * chars: 1e6·n² < 2^63. */
case class CharCollisionExpr(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "char_collision_ppm"

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < 2) null
    else {
      val cnt = new Array[Int](65536)
      var pairs2 = 0L
      var i = 0
      while (i < n) { cnt(s.charAt(i)) += 1; i += 1 }
      i = 0
      while (i < n) { // touched entries only: revisit via the string itself
        val c = cnt(s.charAt(i))
        if (c > 0) { pairs2 += c.toLong * (c - 1); cnt(s.charAt(i)) = 0 }
        i += 1
      }
      1000000L * pairs2 / (n.toLong * (n - 1))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cnt = ctx.addMutableState("int[]", "ccCnt", v => s"$v = new int[65536];")
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p2 = ctx.freshName("pairs2")
      val cc = ctx.freshName("cc")
      s"""
         |java.lang.String $s = $c.toString();
         |int $n = $s.length();
         |if ($n < 2) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $p2 = 0L;
         |  for (int $i = 0; $i < $n; $i++) { $cnt[$s.charAt($i)]++; }
         |  for (int $i = 0; $i < $n; $i++) {
         |    int $cc = $cnt[$s.charAt($i)];
         |    if ($cc > 0) { $p2 += (long) $cc * ($cc - 1); $cnt[$s.charAt($i)] = 0; }
         |  }
         |  ${ev.value} = 1000000L * $p2 / ((long) $n * ($n - 1));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * selection rule): hash every K-byte gram with the engine's rolling
  * polynomial (h·P + byte mod M, the [[ByteRollHashExpr]] math), slide a
  * W-gram window, keep each window's minimum, return the DISTINCT minima
  * sorted ascending. Robust variant: ties and repeated selections
  * collapse via the distinct set, so the output is a set function of the
  * text — identical texts give identical arrays.
  *
  * One O(n) pass: the gram hash rolls (subtract the outgoing byte's
  * P^(K-1) term, shift, add the incoming byte) instead of rehashing K
  * bytes per position, and window minima come from a W-slot ring buffer
  * (W is a small constant). The declarative equivalent —
  * transform(sequence(...), i -> hash(substr(text, i, K))) + slice +
  * array_min + array_distinct — allocates three interpreted array passes
  * per document; this is one generated-code call per row.
  *
  * Documents shorter than K bytes have no gram → empty array; with
  * 1 ≤ #grams < W the whole hash sequence is one window (its min is the
  * single fingerprint), so every document with ≥ K bytes fingerprints.
  */
case class WinnowHashExpr(child: Expression, k: Int, w: Int,
    prime: Long, mod: Long)
  extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && w >= 1, s"winnow needs k,w >= 1, got k=$k w=$w")

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  // P^(K-1) mod M — the outgoing byte's positional weight
  private val pk1: Long = {
    var r = 1L; var i = 1
    while (i < k) { r = r * prime % mod; i += 1 }
    r
  }

  /** bytes → sorted distinct winnowed minima. Public: the generated code
    * calls it through a codegen reference object (LshSignaturesExpr
    * pattern) so eval and codegen share one implementation. */
  def compute(bytes: Array[Byte]): Array[Long] = {
    val nh = bytes.length - k + 1
    if (nh <= 0) return Array.emptyLongArray
    // effective window: texts with fewer than W grams winnow as ONE
    // window over all their grams (min = single fingerprint), so every
    // text with at least one gram fingerprints
    val win = math.min(w, nh)
    val ring = new Array[Long](win)
    val seen = new java.util.HashSet[java.lang.Long]()
    // seed hash of gram 0
    var h = 0L
    var i = 0
    while (i < k) { h = (h * prime + (bytes(i) & 0xff)) % mod; i += 1 }
    ring(0) = h
    if (win == 1) seen.add(h) // gram 0 is its own window
    var p = 1 // gram index; windows close at p = win-1 .. nh-1
    while (p < nh) {
      var t = (h - (bytes(p - 1) & 0xff) * pk1 % mod) % mod
      if (t < 0) t += mod
      h = (t * prime + (bytes(p + k - 1) & 0xff)) % mod
      ring(p % win) = h
      if (p >= win - 1) {
        var m = ring(0); var j = 1
        while (j < win) { if (ring(j) < m) m = ring(j); j += 1 }
        seen.add(m)
      }
      p += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    java.util.Arrays.sort(out)
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(compute(input.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("winnower", this,
        classOf[WinnowHashExpr].getName)
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($ref.compute($c.getBytes()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Morton (Z-order) interleave of the low 16 bits of two LONG columns:
  * bit i of `left` lands at output bit 2i, bit i of `right` at 2i+1, so
  * the result is a 32-bit space-filling-curve key whose range buckets
  * are axis-aligned-ish rectangles in (left, right) space. This is the
  * multi-dimensional clustering key behind zone-map file skipping on
  * TWO predicates at once (Delta/Iceberg OPTIMIZE ZORDER): sorting by
  * time serves time predicates only; sorting by the Morton code bounds
  * BOTH dimensions' min/max spans per file.
  *
  * The spread runs as the classic 4-step mask doubling (x | x<<8 masked,
  * then <<4, <<2, <<1) inside whole-stage codegen — 10 ALU ops per
  * dimension, no loop, no branch. Inputs are masked to 16 bits, so the
  * caller bucketizes each dimension to 0..65535 first; the oracle mirror
  * is the bit-identical unrolled shift-add (HashExprs.zInterleaveSql). */
case class ZInterleaveExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftShim.AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "z_interleave"

  @inline private def spread(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    spread(l.asInstanceOf[Long]) | (spread(r.asInstanceOf[Long]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      s"""
         |long $a = $l & 0xffffL;
         |$a = ($a | ($a << 8)) & 0x00ff00ffL;
         |$a = ($a | ($a << 4)) & 0x0f0f0f0fL;
         |$a = ($a | ($a << 2)) & 0x33333333L;
         |$a = ($a | ($a << 1)) & 0x55555555L;
         |long $b = $r & 0xffffL;
         |$b = ($b | ($b << 8)) & 0x00ff00ffL;
         |$b = ($b | ($b << 4)) & 0x0f0f0f0fL;
         |$b = ($b | ($b << 2)) & 0x33333333L;
         |$b = ($b | ($b << 1)) & 0x55555555L;
         |${ev.value} = $a | ($b << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HashExprs {
  /** Shared affine-mix multipliers for the engine's portable hash family
    * (x % P * MixN % P, P prime). One definition point: the stratified
    * sampler / shard router, the HLL bucket+rank mixes, and the Bloom
    * bit positions all draw from here — an edit to a stray copy would
    * silently change hash behavior for only some operators. Values fit
    * the no-overflow bound (2^31−1) · Mix < 2^63. */
  val Mix1 = 2654435761L // Knuth multiplicative golden-ratio constant
  val Mix2 = 2246822519L // xxhash PRIME32_2
  val Mix3 = 3266489917L // xxhash PRIME32_3

  def longDot(a: Column, b: Column): Column =
    GraftShim.column(
      LongDotExpr(GraftShim.expression(a), GraftShim.expression(b)))

  def longL2(a: Column, b: Column): Column =
    GraftShim.column(
      LongL2Expr(GraftShim.expression(a), GraftShim.expression(b)))

  def packShorts(a: Column): Column =
    GraftShim.column(PackShortsExpr(GraftShim.expression(a)))

  def shortDot(a: Column, b: Column): Column =
    GraftShim.column(
      ShortDotExpr(GraftShim.expression(a), GraftShim.expression(b)))

  def byteRollHash(s: Column, prime: Long, mod: Long): Column =
    GraftShim.column(
      ByteRollHashExpr(GraftShim.expression(s), prime, mod))

  def minHash(sh: Column, a: Seq[Long], b: Seq[Long], mod: Long): Column =
    GraftShim.column(MinHashExpr(GraftShim.expression(sh), a, b, mod))

  def shingleHashSet(toks: Column, prime: Long, mod: Long): Column =
    GraftShim.column(ShingleHashSetExpr(GraftShim.expression(toks), prime, mod))

  def ngramHashSet(toks: Column, n: Int, prime: Long, mod: Long): Column =
    GraftShim.column(NgramHashSetExpr(GraftShim.expression(toks), n, prime, mod))

  def winnowFingerprints(s: Column, k: Int, w: Int,
      prime: Long, mod: Long): Column =
    GraftShim.column(
      WinnowHashExpr(GraftShim.expression(s), k, w, prime, mod))

  def simHash(arr: Column, bits: Int): Column =
    GraftShim.column(SimHashExpr(GraftShim.expression(arr), bits))

  def binaryBeField(payload: Column, offset: Int, width: Int): Column =
    GraftShim.column(
      BinaryBeFieldExpr(GraftShim.expression(payload), offset, width))

  def binaryCdcChunks(payload: Column, k: Int, boundaryMod: Long,
      prime: Long, mod: Long, p2: Long, mix: Long): Column =
    GraftShim.column(BinaryCdcChunksExpr(
      GraftShim.expression(payload), k, boundaryMod, prime, mod, p2, mix))

  def charCollisionPpm(text: Column): Column =
    GraftShim.column(CharCollisionExpr(GraftShim.expression(text)))

  def zInterleave(x: Column, y: Column): Column =
    GraftShim.column(
      ZInterleaveExpr(GraftShim.expression(x), GraftShim.expression(y)))

  /** DuckDB mirror of [[ZInterleaveExpr]]: the same 4-step mask-doubling
    * bit spread, unrolled as plain BIGINT `&`/`|`/`<<` arithmetic over the
    * two input SQL expressions (both engines' bitwise ops are exact on
    * int64). Kept textual so every oracle embeds the identical formula. */
  def zInterleaveSql(x: String, y: String): String = {
    def spread(e: String): String = {
      val m0 = s"((($e) & 65535) | ((($e) & 65535) << 8)) & 16711935"
      val m1 = s"(($m0) | (($m0) << 4)) & 252645135"
      val m2 = s"(($m1) | (($m1) << 2)) & 858993459"
      s"((($m2) | (($m2) << 1)) & 1431655765)"
    }
    s"(${spread(x)} | (${spread(y)} << 1))"
  }

  def lshSignatures(qv: Column, weights: Array[Long], tables: Int, planes: Int): Column =
    GraftShim.column(
      LshSignaturesExpr(GraftShim.expression(qv), weights, tables, planes))

  def nearestCell(qv: Column, n2: Column, seedIds: Array[Long],
      flatVecs: Array[Long], norms: Array[Long], dim: Int): Column =
    GraftShim.column(NearestCellExpr(GraftShim.expression(qv),
      GraftShim.expression(n2), seedIds, flatVecs, norms, dim))
}
