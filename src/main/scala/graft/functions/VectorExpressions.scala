package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}

/** Element accessors shared by the vector expressions: FLOAT and DOUBLE
  * arrays are both accepted natively, so callers feed parquet
  * `array<float>` embeddings straight in — the old
  * `transform(embedding, x -> cast(x as double))` pre-pass was an
  * interpreted higher-order function (HOFs are CodegenFallback) that
  * allocated a converted copy of every vector on every row; reading the
  * float and widening per element inside the primitive loop is exact
  * (float→double is value-preserving) so results are bit-unchanged. */
private[functions] object VecType {
  def isVec(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  /** Java source for reading element `i` of `arr` as a double. */
  def getter(isFloat: Boolean, arr: String, i: String): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Native Catalyst expression for the dense-vector dot product.
  *
  * The pure-DataFrame formulation `aggregate(zip_with(a, b, ...), ...)`
  * is semantically right but interpreted (higher-order functions don't
  * participate in whole-stage codegen), which made the similarity-search
  * operators the bench bottleneck. This BinaryExpression emits a tight
  * primitive loop via `doGenCode` — measured ~10× faster — while keeping
  * EXACTLY the sequential left-to-right IEEE summation order of the HOF
  * form and of DuckDB's `list_reduce` mirror, so oracle results stay
  * bit-identical (graft.ops.Similarity).
  *
  * Null contract: null input array → null result, and MISMATCHED LENGTHS
  * → null result — exactly the HOF behavior, where `zip_with` pads the
  * shorter array with nulls and the null poisons the fold. A
  * dimensionality bug surfaces as a null cosine, never as a
  * plausible-looking truncated score. Arrays are expected
  * element-non-null (embedding vectors).
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.isVec(left.dataType) && VecType.isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<double|float> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // nullable even over non-null inputs: length mismatch yields null
  override def nullable: Boolean = true

  @transient private lazy val leftFloat = VecType.isFloat(left.dataType)
  @transient private lazy val rightFloat = VecType.isFloat(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rightFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $acc += ${VecType.getter(leftFloat, a, i)} * ${VecType.getter(rightFloat, b, i)};
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Native integer dot product over int8-quantization code arrays
  * (`vec_dot_int(array<int>, array<int>) -> bigint`).
  *
  * The compressed ANN serving path scores every (query, candidate) pair by
  * an integer dot product; the HOF form
  * `aggregate(zip_with(a, b, (x, y) -> cast(x as bigint) * y), 0L, ...)`
  * is CodegenFallback — interpreted, one zipped array allocation per pair —
  * in the hottest loop of the scan. Same tight-primitive-loop treatment as
  * [[VecDot]]; exactness is structural (int×int sums are order-free), so
  * there is no fold-order discipline to preserve — any summation order
  * matches the DuckDB oracle bit-for-bit.
  *
  * Null contract mirrors [[VecDot]]: null array → null, mismatched
  * lengths → null (the HOF's zip_with-pads-null behavior — a code-table
  * dimensionality bug surfaces as a null score, never a truncated one);
  * elements expected non-null (quantization codes). */
case class VecDotInt(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isIntVec(t: DataType): Boolean = t match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isIntVec(left.dataType) && isIntVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_int requires array<int> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_int"
  // nullable even over non-null inputs: length mismatch yields null
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += xs.getInt(i).toLong * ys.getInt(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotInt =
    copy(left = newLeft, right = newRight)
}

/** BPE merge-table application (`bpe_split(word, merges)`): the learned
  * merge chain applied to one word, returning the final subword array —
  * the corpus-side tokenizer pass in ONE native expression.
  *
  * The SQL-expressible form — `split(trim(<2·numMerges nested literal
  * replaces over concat(' ', regexp_replace(word, '(.)', '$1 '),
  * '</w> ')>), ' ')` — is semantically right but was the 100× probe's
  * whole cost for `bpe_subword_freq` (round 15): the per-character
  * regexp_replace runs the regex engine once per char (~10 s / 14.5 M
  * tokens at 100×), and each of the 64 literal replaces scans AND
  * REALLOCATES the padded string (~38 s). This expression works on a
  * token array: the char split is one primitive loop, and each replace
  * pass is a token-wise scan with two reused buffers — no intermediate
  * strings at all.
  *
  * Semantics are EXACTLY the doubled literal-replace chain (pinned by
  * OpsSpec's equivalence property test against the SQL form):
  * `replace(s, ' a b ', ' m ')` on the space-padded symbol string
  * matches only at token boundaries (symbols contain no spaces), scans
  * the ORIGINAL string left-to-right non-overlapping, and each match
  * CONSUMES the trailing separator — so the token after a replaced pair
  * cannot start a following match in the same pass (it lost its leading
  * space). The token-array pass replicates that skip: on a match emit
  * `m`, copy the next token verbatim, and resume two tokens later. The
  * doubled application is pass-over-the-output-of-pass, exactly like
  * `replace(replace(...))` re-scanning the once-replaced string.
  *
  * `merges` is a foldable string literal `"a b m;a2 b2 m2;..."` — rank
  * order, symbols are `[a-z]`/`</w>` concatenations, so ' ' and ';' are
  * safe separators. */
case class BpeSplit(word: Expression, mergesExpr: Expression)
  extends BinaryExpression {

  override def left: Expression = word
  override def right: Expression = mergesExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (word.dataType == StringType && mergesExpr.dataType == StringType &&
        mergesExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bpe_split requires (string, foldable string merge table)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_split"

  @transient private lazy val merges: Array[Array[String]] =
    mergesExpr.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.split(';').filter(_.nonEmpty).map(_.split(' '))

  /** Interned symbol table: every merge-table symbol (and `</w>`) gets a
    * small int id so the hot loop compares INTS, not strings — a first
    * string-token draft spent most of its time allocating a String per
    * character and UTF8String per output token. Characters outside the
    * table can never participate in a merge, so they are encoded as the
    * (unique, always-negative) `-(char + 1)` and only decoded on output.
    * Built once per (deserialized) instance; immutable thereafter, so
    * concurrent tasks sharing the reference object race only on the
    * synchronized lazy init. The id→UTF8String decode array means output
    * tokens reuse one interned object per symbol, never re-encoding. */
  @transient private lazy val interned: (Array[Array[Int]],
      Array[org.apache.spark.unsafe.types.UTF8String], Array[Int], Int) = {
    val syms = scala.collection.mutable.LinkedHashMap[String, Int]()
    def id(s: String): Int =
      syms.getOrElseUpdate(s, syms.size)
    val endId = id("</w>")
    val trip = merges.map(r => Array(id(r(0)), id(r(1)), id(r(2))))
    val symbols = syms.keysIterator
      .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
    val charId = Array.fill(128)(Int.MinValue)
    syms.foreach { case (s, i) =>
      if (s.length == 1 && s.charAt(0) < 128) charId(s.charAt(0)) = i
    }
    (trip, symbols, charId, endId)
  }

  override def nullSafeEval(w: Any, m: Any): Any =
    subwords(w.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def subwords(w: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val (trip, symbols, charId, endId) = interned
    val s = w.toString
    // initial symbol sequence: one UTF-16 unit per symbol (the '(.)'
    // regex form's unit) plus the end-of-word marker
    val len = s.length
    var toks = new Array[Int](len + 1)
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      toks(i) = if (c < 128 && charId(c) != Int.MinValue) charId(c)
                else -(c + 1)
      i += 1
    }
    toks(len) = endId
    var n = len + 1
    var buf = new Array[Int](n) // merges only ever shrink the count
    var k = 0
    while (k < trip.length) {
      val a = trip(k)(0); val b = trip(k)(1); val m = trip(k)(2)
      var pass = 0
      while (pass < 2) {
        var out = 0
        var j = 0
        while (j < n) {
          if (j + 1 < n && toks(j) == a && toks(j + 1) == b) {
            buf(out) = m; out += 1
            // the match consumed the separator after `b`: the next token
            // cannot begin a match this pass — copy it and skip past
            if (j + 2 < n) { buf(out) = toks(j + 2); out += 1 }
            j += 3
          } else { buf(out) = toks(j); out += 1; j += 1 }
        }
        val t = toks; toks = buf; buf = t
        n = out
        pass += 1
      }
      k += 1
    }
    val arr = new Array[Any](n)
    var o = 0
    while (o < n) {
      val id = toks(o)
      arr(o) = if (id >= 0) symbols(id)
        else org.apache.spark.unsafe.types.UTF8String
          .fromString(String.valueOf((-id - 1).toChar))
      o += 1
    }
    new GenericArrayData(arr)
  }

  /** Same reference-obj typed-call pattern as [[WinnowFps]]: keeps the
    * token stream's hottest projection in whole-stage codegen. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeExpr", this, classOf[BpeSplit].getName)
    nullSafeCodeGen(ctx, ev, (w, _) => s"${ev.value} = $self.subwords($w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeSplit =
    copy(word = newLeft, mergesExpr = newRight)
}

/** Winnowing fingerprint selection (`winnow_fps(text, k, w)`): md5 every
  * k-char gram, slide a w-hash window, keep each window's minimum, distinct
  * in first-occurrence order — one native pass per row.
  *
  * Exists because the HOF formulation (`hs = transform(sequence(1, ng),
  * i -> md5(substring(text, i, k)))` then `transform(..., j ->
  * array_min(slice(hs, j, w)))`) is NOT safe to leave to the optimizer:
  * CollapseProject inlines `hs` into the window lambda — recomputing all
  * ng gram hashes for EVERY window, O(ng²) md5 calls per document — and
  * `explode(fps)` plants a `size(fps) > 0` Filter that evaluates the whole
  * inlined chain once more, all in interpreted mode (HOFs are
  * CodegenFallback). At sf0.1 one bench task sat at 100% CPU for >8 min in
  * exactly that predicate. This expression hashes each gram ONCE
  * (O(ng·w) total) and keeps the stage in codegen.
  *
  * Semantics are byte-identical to the HOF form and the DuckDB CTE mirror
  * (graft.ops.TextOps.winnowCte): substring by SQL character semantics
  * (`UTF8String.substringSQL`), lowercase-hex md5, lexicographic min
  * (ASCII hex = binary order in both engines), windows clipped at the
  * array end, short docs degenerate to one whole-text gram.
  */
case class WinnowFps(text: Expression, kExpr: Expression, wExpr: Expression)
  extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = kExpr
  override def third: Expression = wExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType && kExpr.dataType == IntegerType &&
        wExpr.dataType == IntegerType && kExpr.foldable && wExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "winnow_fps requires (string, foldable int k, foldable int w)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  @transient private lazy val kN: Int = kExpr.eval(null).asInstanceOf[Int]
  @transient private lazy val wN: Int = wExpr.eval(null).asInstanceOf[Int]

  override def nullSafeEval(t: Any, k: Any, w: Any): Any =
    fps(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def fps(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = s.getBytes
    // code-point start offsets, so grams slice the byte array in place —
    // identical to substring's character semantics without allocating a
    // UTF8String + byte copy per gram (the allocation-per-gram eval
    // measured ~20µs/gram; this form ~2µs)
    val nChars = s.numChars()
    val offs = new Array[Int](nChars + 1)
    var ci = 0
    var off = 0
    while (off < bytes.length) {
      offs(ci) = off
      off += numBytesForFirstByte(bytes(off))
      ci += 1
    }
    offs(nChars) = bytes.length
    val ng = math.max(nChars - (kN - 1), 1)
    val hs = new Array[String](ng)
    val hex = new Array[Char](32)
    var i = 0
    while (i < ng) {
      val from = offs(i)
      val until = offs(math.min(i + kN, nChars))
      md.update(bytes, from, until - from)
      val digest = md.digest() // resets the digest for the next gram
      var b = 0
      while (b < 16) {
        hex(2 * b) = Character.forDigit((digest(b) >>> 4) & 0xf, 16)
        hex(2 * b + 1) = Character.forDigit(digest(b) & 0xf, 16)
        b += 1
      }
      hs(i) = new String(hex)
      i += 1
    }
    val nw = math.max(ng - (wN - 1), 1)
    val out = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j < nw) {
      var m = hs(j)
      val end = math.min(j + wN, ng)
      var t = j + 1
      while (t < end) { if (hs(t).compareTo(m) < 0) m = hs(t); t += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var a = 0
    while (it.hasNext) {
      arr(a) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      a += 1
    }
    new GenericArrayData(arr)
  }

  /** md5 dominates; the typed call avoids CodegenFallback's per-row boxing
    * and keeps the surrounding stage in whole-stage codegen (SimHash64
    * pattern). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowExpr", this, classOf[WinnowFps].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $self.fps($t);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowFps =
    copy(text = newFirst, kExpr = newSecond, wExpr = newThird)
}

object SignBits {
  /** ±1 coefficient for (plane j, 1-based component c): parity of the
    * first hex digit of md5("j_c") — exactly the derivation the DuckDB
    * oracle performs per row in SQL (graft.ops.Similarity). */
  def coef(j: Int, c: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$c".getBytes("UTF-8"))
    2 * (((d(0) >> 4) & 0xf) & 1) - 1
  }
}

/** Hyperplane sign-bit signature: char j of the output is '1' iff the
  * projection of the vector onto md5-derived ±1 plane j is positive.
  *
  * The SQL-expressible form (one `vec_dot` against a literal coefficient
  * array per plane, concatenated) is semantically identical but builds a
  * ~planes×dim-literal expression tree — at 66 planes the generated
  * projection blows past JIT-able method size and the per-row cost went
  * superlinear (measured ~15 s for 2×20 k rows at 10× scale). This single
  * expression evaluates all planes in one primitive loop over the vector
  * (~0.2 s for the same input) with an O(1)-size tree.
  *
  * Fold order per plane is the same left-to-right `acc += coef·v[c]` as
  * the HOF/vec_dot forms and DuckDB's `list_reduce` mirror, so signatures
  * stay bit-identical cross-engine.
  */
case class SignBits(vec: Expression, planes: Expression)
  extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = planes

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecType.isVec(vec.dataType) && planes.dataType == IntegerType &&
        planes.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sign_bits requires (array<double|float>, foldable int)")

  @transient private lazy val vecFloat = VecType.isFloat(vec.dataType)
  override def dataType: DataType = StringType
  override def prettyName: String = "sign_bits"

  @transient private lazy val nPlanes: Int =
    planes.eval(null).asInstanceOf[Int]
  // coefficient matrix built once per (deserialized) instance for the
  // observed dimensionality; published as ONE volatile immutable pair so
  // a concurrent reader can never observe a dim that matches with a
  // partially-visible array (a plain var pair could) — worst case under
  // contention is a redundant identical rebuild
  @transient @volatile private var coefCache: (Int, Array[Double]) = _

  // public: the generated code calls it through an addReferenceObj handle
  def coefsFor(dim: Int): Array[Double] = {
    val cached = coefCache
    if (cached != null && cached._1 == dim) cached._2
    else {
      val arr = new Array[Double](nPlanes * dim)
      var j = 0
      while (j < nPlanes) {
        var c = 1
        while (c <= dim) {
          arr(j * dim + c - 1) = SignBits.coef(j, c).toDouble
          c += 1
        }
        j += 1
      }
      coefCache = (dim, arr)
      arr
    }
  }

  override def nullSafeEval(v: Any, p: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val dim = xs.numElements()
    val cf = coefsFor(dim)
    val sb = new java.lang.StringBuilder(nPlanes)
    var j = 0
    while (j < nPlanes) {
      var acc = 0.0
      var c = 0
      while (c < dim) {
        val x = if (vecFloat) xs.getFloat(c).toDouble else xs.getDouble(c)
        acc += cf(j * dim + c) * x
        c += 1
      }
      sb.append(if (acc > 0) '1' else '0')
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Same primitive double-loop as [[nullSafeEval]], emitted inline so the
    * signature computation — the per-row hot loop of the whole
    * near-dup/ANN family — stays inside whole-stage codegen instead of
    * paying a virtual eval call + row boxing per row (the expression was
    * CodegenFallback through round 2). The coefficient matrix is fetched
    * through a reference-object handle to this instance (cached per dim),
    * exactly the VecDot pattern. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("signBitsExpr", this, classOf[SignBits].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val dim = ctx.freshName("dim")
      val cf = ctx.freshName("cf")
      val bits = ctx.freshName("bits")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      s"""
        int $dim = $v.numElements();
        double[] $cf = $self.coefsFor($dim);
        byte[] $bits = new byte[$nPlanes];
        for (int $j = 0; $j < $nPlanes; $j++) {
          double $acc = 0.0;
          for (int $c = 0; $c < $dim; $c++) {
            $acc += $cf[$j * $dim + $c] * ${VecType.getter(vecFloat, v, c)};
          }
          $bits[$j] = $acc > 0 ? (byte) '1' : (byte) '0';
        }
        ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($bits);
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignBits =
    copy(vec = newLeft, planes = newRight)
}

/** 64-bit SimHash over a word array, as a single native expression.
  *
  * Bit semantics are EXACTLY the SQL-expressible formulation the DuckDB
  * oracle uses (graft.ops.Dedup): for 1-based bit j, take hex digit
  * ceil(j/4) of md5(word) and bit (j-1)%4 of its value; vote ±1; output
  * char j is '1' iff the vote sum is positive. The pure-HOF Spark version
  * of this (64 nested lambdas per word) was the bench bottleneck (~50 s at
  * sf0.1); this eval loop is ~20×(words) cheaper per row.
  */
case class SimHash64(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    hashWords(input.asInstanceOf[ArrayData])

  /** Per-word md5 dominates the cost, so full inline codegen buys little;
    * but a direct typed call avoids CodegenFallback's per-row boxing of
    * the array into an InternalRow + interpreted dispatch, and keeps the
    * surrounding stage in whole-stage codegen. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simHashExpr", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, w => s"${ev.value} = $self.hashWords($w);")
  }

  def hashWords(words: ArrayData): org.apache.spark.unsafe.types.UTF8String = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < words.numElements()) {
      val w = words.getUTF8String(i)
      if (w != null) {
        val digest = md.digest(w.getBytes) // md resets itself after digest()
        var j = 0
        while (j < 64) {
          val d = j / 4 // hex-digit index 0..15
          val b = digest(d / 2) & 0xff
          val nibble = if (d % 2 == 0) (b >>> 4) & 0xf else b & 0xf
          val bit = (nibble >>> (j % 4)) & 1
          votes(j) += 2 * bit - 1
          j += 1
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < 64) {
      sb.append(if (votes(j) > 0) '1' else '0')
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Hamming distance between two equal-length ASCII strings (bit strings). */
case class StrHamming(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("str_hamming requires string inputs")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "str_hamming"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val ys = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = math.min(xs.length, ys.length)
    var d = math.abs(xs.length - ys.length)
    var i = 0
    while (i < n) { if (xs(i) != ys(i)) d += 1; i += 1 }
    d
  }

  /** Simhash candidate filtering evaluates this once per band-collision
    * pair — a pure byte loop, so inline it (the interpreted form cost a
    * per-row virtual call + boxing inside an otherwise codegen'd stage). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
        byte[] $xs = $a.getBytes();
        byte[] $ys = $b.getBytes();
        int $n = java.lang.Math.min($xs.length, $ys.length);
        int $d = java.lang.Math.abs($xs.length - $ys.length);
        for (int $i = 0; $i < $n; $i++) {
          if ($xs[$i] != $ys[$i]) $d++;
        }
        ${ev.value} = $d;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StrHamming =
    copy(left = newLeft, right = newRight)
}
