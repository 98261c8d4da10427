package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels: row-local scalar expressions (narrow,
  * partition-parallel, no shuffle) that replace higher-order-function
  * trees, SQL chains or UDFs which run interpreted or allocate per
  * element. Each replays the formulation it replaces bit for bit; the
  * parity specs pin that.
  *
  * One implementation per kernel: its per-row logic lives in a single
  * `compute` method. The interpreted path (`nullSafeEval`/`eval`) calls
  * it, and the generated code calls it too, through [[ComputeCodegen]],
  * so whole-stage codegen keeps the kernel's stage fused without a
  * second, hand-written Java copy of the logic. Nullability:
  *
  *   - a null-intolerant kernel (all but two) returns null for any null
  *     input and never calls `compute` with one;
  *   - a kernel whose `compute` may also return null for non-null input
  *     (`dot_product`, `ct_classify`) sets `computeMayReturnNull`;
  *   - a non-nullable kernel (`word_shingles`, `line_stats`) passes null
  *     inputs to `compute`, which always returns a value.
  *
  * A few are registered for SQL via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */

/** Generated code for a kernel: `ev.value = ref.compute(args)`, one
  * argument per child (one to three), with `ref` the expression itself
  * (`ctx.addReferenceObj`). Null handling follows the rules above. */
private[functions] trait ComputeCodegen extends Expression {
  protected def computeMayReturnNull: Boolean = false

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(g =>
      if (nullIntolerant) g.value.toString else s"(${g.isNull} ? null : ${g.value})")
    val call = s"$ref.compute(${args.mkString(", ")})"
    val decl =
      s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      // isNull must be a literal, not the undeclared default variable:
      // consumers such as Generate reference it and would fail to compile
      ev.copy(code = code"""
        ${gens.map(_.code).reduce(_ + _)}
        $decl
        ${ev.value} = $call;""", isNull = FalseLiteral)
    } else {
      val set =
        if (!computeMayReturnNull) s"${ev.isNull} = false; ${ev.value} = $call;"
        else {
          val r = ctx.freshName("r")
          s"""${CodeGenerator.boxedType(dataType)} $r = $call;
             |if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r; }""".stripMargin
        }
      // evaluate each child only while the ones before it are non-null
      val body = gens.zip(children).foldRight(set) { case ((g, c), inner) =>
        s"${g.code}\n${ctx.nullSafeExec(nullIntolerant && c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $body""")
    }
  }
}

/** cosine(a, b) over array<double>, one pass. Bit-identical to the
  * sequential-fold formulation (same accumulation order), so DuckDB
  * oracle parity is preserved. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ComputeCodegen {

  // expects array<double>, array<double> — constructed via the typed
  // Column wrappers below (AbstractDataType is private[sql] in Spark 4,
  // so ExpectsInputTypes is not available to third-party packages)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def compute(xs: ArrayData, ys: ArrayData): Double = {
    if (xs.numElements() != ys.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: dimension mismatch ${xs.numElements()} vs ${ys.numElements()}")
    val n = xs.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i)
      val y = ys.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): CosineSimilarity = copy(left = newLeft, right = newRight)
}

/** pq_encode(emb): product-quantization codes — per-subspace squared-L2
  * argmin against driver-fixed codebooks (codebooks(m)(k)(i), all
  * subvector widths equal). One tight JVM loop per row replaces the
  * zip_with/aggregate HOF tree, which was interpreted AND allocated a
  * fresh zipped array per (row, codeword); a static per-dimension
  * unroll was tried first and blew the whole-stage-codegen method-size
  * limit (m·k·w terms), which disables WSCG for the whole plan.
  * Accumulation order and the strictly-less/keep-earlier tie rule are
  * bit-identical to the HOF formulation (left fold over ascending i,
  * codes scanned ascending). */
case class PqEncodeExpr(
    child: Expression,
    codebooks: Array[Array[Array[Double]]]
) extends UnaryExpression with ComputeCodegen {

  override def dataType: DataType = ArrayType(LongType)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): ArrayData = {
    val xs = a
    val m = codebooks.length
    val w = codebooks(0)(0).length
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val cb = codebooks(mi)
      val base = mi * w
      var best = Double.NaN
      var bestCode = 0L
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var d = 0.0
        var i = 0
        while (i < w) {
          val diff = xs.getDouble(base + i) - c(i)
          d += diff * diff
          i += 1
        }
        if (j == 0 || d < best) { best = d; bestCode = j.toLong }
        j += 1
      }
      out(mi) = bestCode
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** pq_adc_dist(query_emb, pq_code): asymmetric PQ distance —
  * Σ over subspaces of squared-L2 between the query subvector and the
  * coded codeword. Same tight-loop rationale and bit-exact accumulation
  * order (per-subspace left fold, subspaces summed ascending) as
  * [[PqEncodeExpr]]. */
case class PqAdcDistExpr(
    left: Expression,
    right: Expression,
    codebooks: Array[Array[Array[Double]]]
) extends BinaryExpression with ComputeCodegen {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(q: Any, code: Any): Any =
    compute(q.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData])

  def compute(q: ArrayData, code: ArrayData): Double = {
    val qs = q
    val cs = code
    val m = codebooks.length
    val w = codebooks(0)(0).length
    var total = 0.0
    var mi = 0
    while (mi < m) {
      val c = codebooks(mi)(cs.getLong(mi).toInt)
      val base = mi * w
      var d = 0.0
      var i = 0
      while (i < w) {
        val diff = qs.getDouble(base + i) - c(i)
        d += diff * diff
        i += 1
      }
      total += d
      mi += 1
    }
    total
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): PqAdcDistExpr = copy(left = newLeft, right = newRight)
}

/** winnow_select(gramHashes): winnowing window-min fingerprint selection
  * (Schleimer et al. 2003 §5) over an array<long> of gram hashes —
  * per sliding window of `w` grams keep the minimum hash, RIGHTMOST on
  * ties, then emit the distinct (pos, hash) selections in first-seen
  * order. One tight O(n·w) JVM loop per row; the HOF formulation it
  * replaces allocated a struct per (window, element) and ran
  * interpreted. Exactly [[graft.operators.Winnowing.selectHof]]'s
  * semantics, incl. the `h <= acc.hash` rightmost-tie rule, the
  * whole-array window when n < w, and null grams never displacing the
  * accumulator. */
case class WinnowSelectExpr(child: Expression, w: Int)
    extends UnaryExpression with ComputeCodegen {

  require(w >= 1, s"window must be >= 1, got $w")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = true))))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): ArrayData = {
    val grams = a
    val n = grams.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val seen = new java.util.HashSet[Long]()
    var lastPos = Int.MinValue
    val iMax = math.max(n - w, 0)
    var i = 0
    while (i <= iMax) {
      // fold j = i .. min(i+w-1, n-1): h <= best keeps the RIGHTMOST tie
      var bestPos = -1
      var bestHash = Long.MaxValue
      val jMax = math.min(i + w - 1, n - 1)
      var j = i
      while (j <= jMax) {
        if (!grams.isNullAt(j)) {
          val h = grams.getLong(j)
          if (h <= bestHash) { bestPos = j; bestHash = h }
        }
        j += 1
      }
      // array_distinct on (pos, hash) structs: a position repeats only
      // across CONSECUTIVE windows, so first-seen dedup == keyed dedup
      // on pos (hash is a function of pos); the set guards the general
      // case anyway
      if (bestPos != lastPos && !seen.contains(bestPos.toLong)) {
        out += InternalRow(bestPos, bestHash)
        seen.add(bestPos.toLong)
        lastPos = bestPos
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelectExpr =
    copy(child = newChild)
}

/** Shared one-pass gram counter for the Gopher n-gram char-fraction
  * kernels: slides an n-word window over `words`, builds each gram
  * exactly like `concat_ws(" ", ...)` (null words skipped, no
  * separator for them — `UTF8String.concatWs` IS concat_ws's engine),
  * and counts occurrences per distinct gram. O(G·n) chars of work vs
  * the HOF formulation's O(G²·n) (per distinct gram a full
  * `filter(grams, _ === g)` rescan, all interpreted). */
private[functions] object NgramCharStats {
  private val SEP = UTF8String.fromString(" ")

  def gramCounts(words: ArrayData, n: Int): java.util.HashMap[UTF8String, Array[Int]] = {
    val g = words.numElements() - n + 1
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < g) {
      var k = 0
      while (k < n) {
        buf(k) = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        k += 1
      }
      val gram = UTF8String.concatWs(SEP, buf: _*)
      val c = counts.get(gram)
      if (c == null) counts.put(gram, Array(1)) else c(0) += 1
      i += 1
    }
    counts
  }
}

/** top_ngram_chars(words, n): characters of the most frequent word
  * n-gram — `c·l` of the `array_max` struct over
  * `(count, length(gram))`, i.e. max count with max gram length as the
  * tie-break (struct ordering), int multiply exactly like the
  * `top.c * top.l` column it replaces. 0 when fewer than n words
  * (callers guard with `when(size(words) >= n, ...)` anyway). */
case class TopNgramCharsExpr(child: Expression, n: Int)
    extends UnaryExpression with ComputeCodegen {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): Int = {
    val counts = NgramCharStats.gramCounts(a, n)
    var bestC = 0
    var bestL = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c >= bestC) {
        val l = e.getKey.numChars()
        if (c > bestC || l > bestL) { bestC = c; bestL = l }
      }
    }
    bestC * bestL
  }

  override protected def withNewChildInternal(newChild: Expression): TopNgramCharsExpr =
    copy(child = newChild)
}

/** dup_ngram_chars(words, n): summed characters of ALL occurrences of
  * duplicated n-grams — Σ over distinct grams with count ≥ 2 of
  * `(c·l).toLong`, the occurrence-sum definition of
  * [[graft.operators.GopherQuality]], per-gram int multiply then the
  * long cast exactly like the `aggregate` fold it replaces. */
case class DupNgramCharsExpr(child: Expression, n: Int)
    extends UnaryExpression with ComputeCodegen {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): Long = {
    val counts = NgramCharStats.gramCounts(a, n)
    var total = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c >= 2) total += (c * e.getKey.numChars()).toLong
    }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): DupNgramCharsExpr =
    copy(child = newChild)
}

/** run_length_ranges(mask, fill): positions where mask == fill, grouped
  * into consecutive [start, end) runs — array<array<long>>. */
case class RunLengthRanges(left: Expression, right: Expression)
    extends BinaryExpression with ComputeCodegen {

  override def dataType: DataType = ArrayType(ArrayType(LongType))
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(maskAny: Any, fillAny: Any): Any =
    compute(maskAny.asInstanceOf[ArrayData], fillAny.asInstanceOf[Long])

  def compute(maskAny: ArrayData, fillAny: Long): ArrayData = {
    val mask = maskAny
    val fill = fillAny
    val runs = scala.collection.mutable.ArrayBuffer.empty[ArrayData]
    var runStart = -1L
    var i = 0
    val n = mask.numElements()
    while (i < n) {
      val hit = !mask.isNullAt(i) && mask.getLong(i) == fill
      if (hit && runStart < 0) runStart = i.toLong
      if (!hit && runStart >= 0) {
        runs += new GenericArrayData(Array(runStart, i.toLong))
        runStart = -1L
      }
      i += 1
    }
    if (runStart >= 0) runs += new GenericArrayData(Array(runStart, n.toLong))
    new GenericArrayData(runs.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): RunLengthRanges = copy(left = newLeft, right = newRight)
}

/** greedy_pack_breaks(lengths, maxCount, maxLen): chunk start indices of
  * the reference's greedy packing scan (multiseq.py:377-449): open a new
  * chunk when adding the next sequence would exceed maxLen total OR
  * maxCount sequences. First start is always 0. */
case class GreedyPackBreaks(
    first: Expression,
    second: Expression,
    third: Expression
) extends TernaryExpression with ComputeCodegen {

  override def dataType: DataType = ArrayType(LongType)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(lensAny: Any, maxCountAny: Any, maxLenAny: Any): Any =
    compute(lensAny.asInstanceOf[ArrayData], maxCountAny.asInstanceOf[Long],
      maxLenAny.asInstanceOf[Long])

  def compute(lensAny: ArrayData, maxCountAny: Long, maxLenAny: Long): ArrayData = {
    val lens = lensAny
    val maxCount = maxCountAny
    val maxLen = maxLenAny
    val n = lens.numElements()
    val starts = scala.collection.mutable.ArrayBuffer(0L)
    var cnt = 0L
    var cum = 0L
    var i = 0
    while (i < n) {
      val l = if (lens.isNullAt(i)) 0L else lens.getLong(i)
      if (i > 0 && (cum + l > maxLen || cnt >= maxCount)) {
        starts += i.toLong
        cnt = 1L
        cum = l
      } else {
        cnt += 1
        cum += l
      }
      i += 1
    }
    new GenericArrayData(starts.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): GreedyPackBreaks =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** simhash64(words): 64-bit SimHash of an array<string> in ONE linear
  * pass — per word one xxhash64 (same `XxHash64Function` as the SQL
  * builtin, seed 42, so results match the HOF formulation it replaces)
  * and 64 sign-counter updates. The HOF version allocated a 64-long
  * array per word per row. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with ComputeCodegen {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(wordsAny: Any): Any =
    compute(wordsAny.asInstanceOf[ArrayData])

  def compute(wordsAny: ArrayData): Long = {
    val words = wordsAny
    val counts = new Array[Int](64)
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i)) {
        val h = XxHash64Function.hash(words.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** minhash_sig(shingles, k): k-element minhash signature of an
  * array<string> in ONE pass — per shingle one STRING xxhash64, then k
  * cheap long-hash chains (`xxhash64(sh, j)`'s exact two-step chain:
  * seed 42 over the string, the result re-seeded over the literal j),
  * keeping the running min per j. Bit-identical to the HOF formulation
  * it replaces (`transform(seq(0,k-1), j -> array_min(transform(sh,
  * s -> xxhash64(s, j))))`), which re-hashed every shingle STRING k
  * times and allocated two arrays per row per j. Null shingle elements
  * contribute hash(j, seed) exactly like the builtin (null children are
  * skipped, not null-propagated); an empty shingle array yields an
  * array of k nulls (array_min of empty). */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ComputeCodegen {
  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(shinglesAny: Any): Any =
    compute(shinglesAny.asInstanceOf[ArrayData])

  def compute(shinglesAny: ArrayData): ArrayData = {
    val shingles = shinglesAny
    val n = shingles.numElements()
    if (n == 0) {
      return new GenericArrayData(Array.fill[Any](numHashes)(null))
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h0 =
        if (shingles.isNullAt(i)) 42L
        else XxHash64Function.hash(shingles.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < numHashes) {
        // the HOF's `sequence(0, k-1)` elements are INTs — hash j with
        // IntegerType (4-byte XXH64 path), or the chain diverges
        val hj = XxHash64Function.hash(j, IntegerType, h0)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** pair_combos kernel: all unordered pairs of a (cap-bounded) posting
  * list as array<struct<id_a, id_b>> with id_a = least, id_b =
  * greatest — ONE tight loop per row. The Column-HOF formulation it
  * replaces (transform over a sequence, flatten, least/greatest per
  * element_at — kept as `pair_combos_hof` for the parity spec) is a
  * lambda tree, and HOF lambdas never enter whole-stage codegen: at a
  * growth-probe 10× run the interpreted pair emission alone cost tens
  * of seconds for ~3.7M pairs. Ordering is the element type's
  * interpreted ordering (= least/greatest), nulls ranked smaller like
  * `least` skipping them (postings never contain nulls — collect_min_k
  * drops them — but the contract is pinned anyway). */
case class PairCombosExpr(child: Expression)
    extends UnaryExpression with ComputeCodegen {

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t => throw new IllegalArgumentException(
      s"pair_combos needs an array child, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", elemType),
      StructField("id_b", elemType))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val ord =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elemType)

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // copy values ONCE up front: the input may be an UnsafeArrayData
    // whose buffer is reused across rows, and the emitted structs
    // outlive this evaluation
    val vals = ids.toObjectArray(elemType).map(v =>
      if (v == null) null else InternalRow.copyValue(v))
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        val a = vals(i)
        val b = vals(j)
        // least/greatest: nulls lose (the HOF's least/greatest skip
        // nulls — with one null the non-null value is both least and
        // greatest)
        val (lo, hi) =
          if (a == null) (b, b)
          else if (b == null) (a, a)
          else if (ord.compare(a, b) <= 0) (a, b)
          else (b, a)
        out(k) = InternalRow(lo, hi)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PairCombosExpr =
    copy(child = newChild)
}

/** word_shingles(words, n): word n-gram shingles with whole-text
  * fallback below n words — the native twin of the
  * [[graft.operators.TextShingles]] HOF (`when(size >= n,
  * transform(sequence(1, size-n+1), i => concat_ws(" ", slice(words, i,
  * n)))).otherwise(array(concat_ws(" ", words)))`): ONE pass per row,
  * no per-window slice/sequence allocation, no interpreted lambda
  * dispatch. This HOF feeds the map stage of every shingling family
  * (MinHash signatures, containment, prefix join, shard novelty,
  * winnowing grams). Gram assembly is `UTF8String.concatWs` —
  * concat_ws's engine — so null words are skipped without a separator
  * exactly like the HOF. The null/short contract is replayed precisely:
  * a NULL words array takes the HOF's otherwise branch (`size(null) >=
  * n` is null → false) and yields `[""]`; any array shorter than n
  * (including empty) yields the single whole-text join. */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ComputeCodegen {
  require(n >= 1, s"n must be >= 1, got $n")

  // both HOF branches produce non-null elements (concat_ws never
  // returns null for a literal separator), and the WHEN never falls
  // through to null — the expression itself is non-nullable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val SEP = UTF8String.fromString(" ")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    compute(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  def compute(words: ArrayData): ArrayData = {
    if (words == null)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val m = words.numElements()
    if (m < n) {
      val buf = new Array[UTF8String](m)
      var i = 0
      while (i < m) {
        buf(i) = if (words.isNullAt(i)) null else words.getUTF8String(i)
        i += 1
      }
      return new GenericArrayData(
        Array[Any](UTF8String.concatWs(SEP, buf.toIndexedSeq: _*)))
    }
    val out = new Array[Any](m - n + 1)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var k = 0
      while (k < n) {
        buf(k) = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        k += 1
      }
      out(i) = UTF8String.concatWs(SEP, buf.toIndexedSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** md5_window_fps(text, width, zeroNibbles): DISTINCT (first-seen
  * order) md5 hex digests of every `width`-CHARACTER sliding window of
  * `text` whose hex starts with `zeroNibbles` '0' nibbles — the
  * fingerprint candidates of q118 as ONE linear pass. The expression
  * chain it replaces (`explode(sequence(1, len-w+1))` →
  * `md5(substr(text, i, w))` → `filter(hex[0]='0')` → `distinct`) pays
  * O(position) per `substr` — UTF-8 is variable-width, so every probe
  * re-scans the string from the start, O(len²) character scans per
  * document — plus a corpus-wide exchange for the distinct. Here the
  * char boundaries are computed once (byte offsets), each window is an
  * in-place byte slice handed to MD5, hex is materialized only for the
  * ~16^-zeroNibbles of windows that pass, and the per-doc dedup is a
  * hash set — no explode, no shuffle, same output set. */
case class Md5WindowFpExpr(child: Expression, width: Int, zeroNibbles: Int)
    extends UnaryExpression with ComputeCodegen {
  require(width >= 1, s"width must be >= 1, got $width")
  require(zeroNibbles >= 1 && zeroNibbles <= 32,
    s"zeroNibbles must be in [1, 32], got $zeroNibbles")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  private val HEX = "0123456789abcdef".getBytes("US-ASCII")
  // one digest per thread: digest() resets it between windows and rows
  @transient private lazy val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // char boundaries: a UTF-8 continuation byte is 10xxxxxx — the same
    // first-byte rule UTF8String.substringSQL walks, so windows match
    // substr's code-point slices exactly
    var m = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xC0) != 0x80) m += 1; i += 1 }
    if (m < width) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](m + 1)
    var ci = 0
    i = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(ci) = i; ci += 1 }
      i += 1
    }
    offs(m) = nb
    val md = md5.get()
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var w = 0
    while (w <= m - width) {
      md.update(bytes, offs(w), offs(w + width) - offs(w))
      val dig = md.digest() // digest() also resets for the next window
      var pass = true
      var nz = 0
      while (pass && nz < zeroNibbles) {
        val nib =
          if (nz % 2 == 0) (dig(nz / 2) >> 4) & 0xF else dig(nz / 2) & 0xF
        if (nib != 0) pass = false
        nz += 1
      }
      if (pass) {
        val hex = new Array[Byte](32)
        var k = 0
        while (k < 16) {
          hex(2 * k) = HEX((dig(k) >> 4) & 0xF)
          hex(2 * k + 1) = HEX(dig(k) & 0xF)
          k += 1
        }
        val u = UTF8String.fromBytes(hex)
        if (seen.add(u)) out += u
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5WindowFpExpr =
    copy(child = newChild)
}

/** line_stats(text): the line/paragraph-level corpus-quality signals in
  * ONE pass over the raw bytes —
  * struct<n_lines, n_bullet, n_ellipsis, n_dup_lines, n_paras,
  * n_dup_paras> (all int). Replaces three separate `split(text, "\n")`
  * + interpreted filter/array_distinct HOF chains (bullet fraction,
  * ellipsis fraction, duplicate lines) plus a fourth `split(text,
  * "\n\n")` chain (duplicate paragraphs) in the Gopher gate.
  *
  * Replayed contracts: lines/paragraphs are Java-regex split segments
  * (limit −1; the "\n\n" scan consumes non-overlapping matches left to
  * right, so "a\n\n\nb" is ["a", "\nb"]), only non-empty segments
  * count, bullet = startsWith "- " | "* " | "•", ellipsis = endsWith
  * "..." | "…" (byte-prefix/suffix compares — exactly StartsWith /
  * EndsWith on UTF8String), and n_dup_* = size(xs) −
  * size(array_distinct(xs)). A NULL text returns
  * struct(−1, −1, −1, 0, −1, 0): under the legacy `size(null) = −1`
  * the engine runs with, every derived fraction is then bit-identical
  * to the HOF chain (−1.0 bullet/ellipsis fractions, 0.0 dup
  * fractions). */
case class LineStatsExpr(child: Expression) extends UnaryExpression with ComputeCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_bullet", IntegerType, nullable = false),
    StructField("n_ellipsis", IntegerType, nullable = false),
    StructField("n_dup_lines", IntegerType, nullable = false),
    StructField("n_paras", IntegerType, nullable = false),
    StructField("n_dup_paras", IntegerType, nullable = false)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    compute(if (v == null) null else v.asInstanceOf[UTF8String])
  }

  private val NULL_ROW = InternalRow(-1, -1, -1, 0, -1, 0)

  def compute(text: UTF8String): InternalRow = {
    if (text == null) return NULL_ROW
    val bytes = text.getBytes
    val nb = bytes.length
    // --- lines: segments between single '\n' bytes (0x0A is never part
    // of a multi-byte UTF-8 char)
    var nLines = 0
    var nBullet = 0
    var nEllipsis = 0
    var nDupLines = 0
    val seenLines = new java.util.HashSet[UTF8String]()
    var st = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == '\n') {
        if (i > st) { // non-empty segment
          nLines += 1
          val len = i - st
          // startsWith "- " | "* " | "•" (E2 80 A2)
          if ((len >= 2 && bytes(st) == '-' && bytes(st + 1) == ' ') ||
              (len >= 2 && bytes(st) == '*' && bytes(st + 1) == ' ') ||
              (len >= 3 && bytes(st) == 0xE2.toByte &&
                bytes(st + 1) == 0x80.toByte && bytes(st + 2) == 0xA2.toByte))
            nBullet += 1
          // endsWith "..." | "…" (E2 80 A6)
          if ((len >= 3 && bytes(i - 1) == '.' && bytes(i - 2) == '.' &&
                bytes(i - 3) == '.') ||
              (len >= 3 && bytes(i - 3) == 0xE2.toByte &&
                bytes(i - 2) == 0x80.toByte && bytes(i - 1) == 0xA6.toByte))
            nEllipsis += 1
          if (!seenLines.add(UTF8String.fromBytes(bytes, st, len)))
            nDupLines += 1
        }
        st = i + 1
      }
      i += 1
    }
    // --- paragraphs: segments between non-overlapping "\n\n" matches,
    // scanned left to right (regex split semantics)
    var nParas = 0
    var nDupParas = 0
    val seenParas = new java.util.HashSet[UTF8String]()
    st = 0
    i = 0
    while (i <= nb) {
      val boundary = i >= nb ||
        (i + 1 < nb && bytes(i) == '\n' && bytes(i + 1) == '\n')
      if (boundary) {
        val end = math.min(i, nb)
        if (end > st) {
          nParas += 1
          if (!seenParas.add(UTF8String.fromBytes(bytes, st, end - st)))
            nDupParas += 1
        }
        if (i >= nb) { i = nb + 1; st = nb + 1 }
        else { st = i + 2; i += 2 }
      } else i += 1
    }
    InternalRow(nLines, nBullet, nEllipsis, nDupLines, nParas, nDupParas)
  }

  override protected def withNewChildInternal(newChild: Expression): LineStatsExpr =
    copy(child = newChild)
}

/** cdc_boundaries(text): 0-based code-point positions `i >= window-1`
  * where the rolling polynomial hash of the window ending at `i`
  * (fold `(h·31 + cp) mod m` over the window's code points) is ≡ 0
  * (mod divisor) — the content-defined chunk boundaries of
  * [[graft.operators.CdcChunker]]. One O(n) pass with incremental
  * add/remove (precomputed 31^window mod m), bit-identical to the
  * per-window fold. */
case class CdcBoundariesExpr(
    child: Expression,
    window: Int,
    divisor: Long,
    mod: Long
) extends UnaryExpression with ComputeCodegen {
  require(window >= 2 && divisor >= 2 && mod >= 2)

  override def dataType: DataType = ArrayType(LongType)
  override def nullIntolerant: Boolean = true

  @transient private lazy val pow31w: Long = {
    var p = 1L
    var k = 0
    while (k < window) { p = (p * 31) % mod; k += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val n = s.codePointCount(0, s.length)
    val cps = new Array[Int](n)
    var ci = 0
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      cps(ci) = cp
      ci += 1
      off += Character.charCount(cp)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * 31 + cps(i)) % mod
      if (i >= window)
        h = ((h - (cps(i - window) * pow31w) % mod) % mod + mod) % mod
      if (i >= window - 1 && h % divisor == 0) out += i.toLong
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcBoundariesExpr =
    copy(child = newChild)
}

/** dot_product(a, b): sequential left-fold dot over two array<double>
  * columns — the bit-exact native twin of the `aggregate(zip_with(a, b,
  * _*_), 0.0, _+_)` HOF (ascending adds, same IEEE sequence),
  * including its null contract: zip_with pads the
  * shorter array with nulls and the fold nulls out on the first null
  * product, so mismatched lengths or any null element yield NULL.
  * Callers embed it in their own cosine/ppm arithmetic unchanged —
  * this kernel deliberately does NOT refactor `(1e6·dot)/(√·√)`-style
  * orderings the way [[CosineSimilarity]] would. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ComputeCodegen {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def computeMayReturnNull: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def compute(xs: ArrayData, ys: ArrayData): java.lang.Double = {
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): DotProductExpr = copy(left = newLeft, right = newRight)
}

/** pca_project(emb): diag(1/√(λ+eps))·Vᵀ(x−μ) against driver-fixed
  * (pre-scaled) weight rows and means — the whiten APPLY kernel. One
  * d×d tight loop per row replaces a d²-element HOF tree (a zip_with +
  * interpreted aggregate per output dimension). Bit-identical to the
  * HOF twin ([[graft.operators.PcaWhiten.projectHof]]): centered
  * values subtract once, each output dim is an ascending left-fold,
  * and the HOF's null contract is replayed — a row whose embedding
  * length ≠ d or with any null element yields an array of d nulls
  * (zip_with padding + null-poisoned folds produced exactly that). */
case class PcaProjectExpr(
    child: Expression,
    weights: Array[Array[Double]],
    means: Array[Double]
) extends UnaryExpression with ComputeCodegen {
  require(weights.nonEmpty && weights.forall(_.length == means.length),
    "pca_project: weight rows must match means length")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): ArrayData = {
    val xs = a
    val d = means.length
    val k = weights.length
    var ok = xs.numElements() == d
    if (ok) {
      var i = 0
      while (ok && i < d) { if (xs.isNullAt(i)) ok = false; i += 1 }
    }
    if (!ok) return new GenericArrayData(Array.fill[Any](k)(null))
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) { centered(i) = xs.getDouble(i) - means(i); i += 1 }
    val out = new Array[Any](k)
    var r = 0
    while (r < k) {
      val w = weights(r)
      var acc = 0.0
      var j = 0
      while (j < d) { acc += w(j) * centered(j); j += 1 }
      out(r) = acc
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PcaProjectExpr =
    copy(child = newChild)
}

/** Character n-grams over CODE POINTS and their Cavnar–Trenkle
  * ranking, shared by [[CharNgramsExpr]], [[TopNgramsRankedExpr]] and
  * [[CtClassifyExpr]]. */
private[functions] object CharGrams {
  /** The substrings of `n` consecutive code points of `s`, in order
    * (surrogate pairs never split). Fewer than n code points yields
    * none, except that Spark's StringSplit special-cases the empty
    * regex: splitting the EMPTY string yields [""], so the HOF emits one
    * empty gram at n = 1. (Raw Java `"".split("", -1)` is [] and
    * non-empty strings get a trailing "" — the behaviour matched is
    * Spark's, the engine the HOF formulation ran on.) */
  def of(s: String, n: Int): Array[String] = {
    val m = s.codePointCount(0, s.length)
    if (m == 0) return if (n == 1) Array("") else Array.empty
    if (m < n) return Array.empty
    val offs = new Array[Int](m + 1)
    var ci = 0
    var off = 0
    while (off < s.length) {
      offs(ci) = off
      off += Character.charCount(s.codePointAt(off))
      ci += 1
    }
    offs(m) = s.length
    Array.tabulate(m - n + 1)(i => s.substring(offs(i), offs(i + n)))
  }

  /** The `topN` most frequent distinct grams of `s`, rank order: count
    * descending, then gram ascending in UTF8String's BINARY order
    * (Spark's string ordering — String.compareTo's UTF-16 order differs
    * around supplementary characters). Exactly the groupBy + row_number
    * `ORDER BY count DESC, gram` it replaces. */
  def ranked(s: String, n: Int, topN: Int): Array[UTF8String] = {
    val counts = new java.util.HashMap[String, Array[Int]]()
    for (g <- of(s, n)) {
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1)) else c(0) += 1
    }
    val entries = new Array[(UTF8String, Int)](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      entries(k) = (UTF8String.fromString(e.getKey), e.getValue()(0))
      k += 1
    }
    java.util.Arrays.sort(entries, new java.util.Comparator[(UTF8String, Int)] {
      override def compare(x: (UTF8String, Int), y: (UTF8String, Int)): Int =
        if (x._2 != y._2) Integer.compare(y._2, x._2) else x._1.compareTo(y._1)
    })
    entries.iterator.take(topN).map(_._1).toArray
  }
}

/** char_ngrams(text, n): sliding character n-grams over CODE POINTS —
  * the native twin of `flatten(transform(array(split(text, "")), ch =>
  * transform(sequence(1, size-n+1), i => concat(element_at...))))`
  * (LangIdNgram's formulation): one pass over the string replaces a
  * per-row array of 1-char strings plus an interpreted concat per gram.
  * Same contract ([[CharGrams.of]]). Lower-casing stays OUTSIDE. */
case class CharNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with ComputeCodegen {
  require(n >= 1, s"n must be >= 1, got $n")

  // containsNull=true matches the HOF's `array().cast("array<string>")`
  // branch type, so downstream schemas are unchanged
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  def compute(a: UTF8String): ArrayData =
    new GenericArrayData(CharGrams.of(a.toString, n).map(g => UTF8String.fromString(g): Any))

  override protected def withNewChildInternal(newChild: Expression): CharNgramsExpr =
    copy(child = newChild)
}

/** top_ngrams_ranked(text, n, topN): the `topN` most frequent character
  * n-grams of a (pre-lowered) string with their ranks — rank 1 = most
  * frequent, ties by gram — as array<struct<gram, rank>>. The per-UNIT
  * half of Cavnar–Trenkle classification is a pure function of the
  * unit's text, so this kernel computes it row-locally: the SQL
  * formulation it replaces exploded every gram occurrence, shuffled a
  * corpus-sized (unit, gram) count aggregation, and ranked with a
  * per-unit window (a second exchange + sort). Enumeration and rank
  * order are [[CharGrams.ranked]]'s. */
case class TopNgramsRankedExpr(child: Expression, n: Int, topN: Int)
    extends UnaryExpression with ComputeCodegen {
  require(n >= 1 && topN >= 1, s"need n >= 1 and topN >= 1, got n=$n topN=$topN")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("gram", StringType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  def compute(a: UTF8String): ArrayData = {
    val grams = CharGrams.ranked(a.toString, n, topN)
    new GenericArrayData(Array.tabulate[Any](grams.length)(r =>
      InternalRow(grams(r), (r + 1).toLong)))
  }

  override protected def withNewChildInternal(newChild: Expression): TopNgramsRankedExpr =
    copy(child = newChild)
}

/** ct_classify(text): full Cavnar–Trenkle classification of one
  * (pre-lowered) string against driver-fixed profiles — struct(l, d)
  * with l = argmin language and d = Σ over the text's top-`topN` grams
  * of (profile match ? |docRank − profRank| : topN), ties toward the
  * binary-smaller language; NULL when the text yields no grams (the
  * caller's 'und' case). The profile table is O(#langs · topN) by
  * construction (the ivfTopK literal-centroid discipline), so the
  * whole classify — gram count, rank, per-language distance, argmin —
  * is a pure function of the row: the SQL formulation it replaces paid
  * a gram explode, a crossJoin with the language list, a broadcast
  * profile join and two aggregations, plus the join back to the input.
  * Gram ranking is [[CharGrams.ranked]]'s; the distance replays the
  * `sum(when(rank.isNull, topN).otherwise(abs(dr − pr)))` aggregation
  * exactly (integer arithmetic, order-independent). */
case class CtClassifyExpr(
    child: Expression,
    n: Int,
    topN: Int,
    langs: Array[String],          // ascending binary (UTF8String) order
    profGrams: Array[String],
    profRanks: Array[Array[Long]]  // profRanks(gi)(li), -1 = absent
) extends UnaryExpression with ComputeCodegen {
  require(n >= 1 && topN >= 1)
  require(profGrams.length == profRanks.length)

  override def dataType: DataType = StructType(Seq(
    StructField("l", StringType, nullable = false),
    StructField("d", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override protected def computeMayReturnNull: Boolean = true

  @transient private lazy val gramIdx: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i < profGrams.length) { m.put(UTF8String.fromString(profGrams(i)), i); i += 1 }
    m
  }
  @transient private lazy val langUtf8: Array[UTF8String] =
    langs.map(UTF8String.fromString)

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[UTF8String])

  def compute(a: UTF8String): InternalRow = {
    val grams = CharGrams.ranked(a.toString, n, topN)
    if (grams.isEmpty) return null
    val nl = langs.length
    val dist = new Array[Long](nl)
    var r = 0
    while (r < grams.length) {
      val dr = (r + 1).toLong
      val gi = gramIdx.get(grams(r))
      if (gi == null) {
        var li = 0
        while (li < nl) { dist(li) += topN.toLong; li += 1 }
      } else {
        val pr = profRanks(gi)
        var li = 0
        while (li < nl) {
          dist(li) += (if (pr(li) >= 0) math.abs(dr - pr(li)) else topN.toLong)
          li += 1
        }
      }
      r += 1
    }
    // argmin with ties to the binary-smaller language: langs are
    // pre-sorted ascending, so strict < keeps the earlier one
    var best = 0
    var li = 1
    while (li < nl) {
      if (dist(li) < dist(best)) best = li
      li += 1
    }
    InternalRow(langUtf8(best), dist(best))
  }

  override protected def withNewChildInternal(newChild: Expression): CtClassifyExpr =
    copy(child = newChild)
}

/** intersect_size(a, b): `size(array_intersect(a, b))` over two
  * array<string> columns without materializing the intersection array —
  * one hash-set pass (build b's set, scan a counting first-seen members,
  * null elements counted once when present in BOTH, exactly
  * ArrayIntersect's contract). The jaccard/containment verify legs call
  * this once per candidate pair, and the builtin allocated the distinct
  * intersection array only for `size` to throw it away. STRING element
  * type only (UTF8String equality == SQL string equality; doubles would
  * need the builtin's NaN/-0.0 normalization) — enforced by
  * [[checkInputDataTypes]]: `getUTF8String` over any other element
  * layout would silently return garbage where `size(array_intersect)`
  * fails analysis. */
case class IntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ComputeCodegen {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_size requires two array<string> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def compute(xs: ArrayData, ys: ArrayData): Int = {
    val bSet = new java.util.HashSet[UTF8String]()
    var bHasNull = false
    var i = 0
    val nb = ys.numElements()
    while (i < nb) {
      if (ys.isNullAt(i)) bHasNull = true else bSet.add(ys.getUTF8String(i))
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    var countedNull = false
    var count = 0
    var j = 0
    val na = xs.numElements()
    while (j < na) {
      if (xs.isNullAt(j)) {
        if (bHasNull && !countedNull) { count += 1; countedNull = true }
      } else {
        val v = xs.getUTF8String(j)
        if (bSet.contains(v) && seen.add(v)) count += 1
      }
      j += 1
    }
    count
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): IntersectSizeExpr = copy(left = newLeft, right = newRight)
}

/** argmax_cosine(emb): index (and raw cosine) of the nearest centroid
  * in a driver-fixed list — the per-row assignment kernel behind
  * SemDeDup / IVF / IVFADC cluster assignment. One tight loop fuses the
  * K native cosines with the argmax, replacing an `array(struct(...))`
  * materialization (K structs per row) plus an interpreted `aggregate`
  * fold. Per-centroid cosine is bit-identical to [[CosineSimilarity]]
  * (same accumulation order); the comparison replicates the fold it
  * replaces exactly:
  *
  *   - `scale <= 0` (raw mode): `when(x.sim > acc.sim, x)` — Spark's
  *     `>` on doubles is `SQLOrderingUtil.compareDoubles`, i.e. NaN
  *     beats non-NaN, `-0.0 == 0.0`; strictly-greater keeps the
  *     EARLIER centroid on ties.
  *   - `scale > 0` (scaled mode): compare `-floor(scale·cos).toLong`
  *     with strictly-less (the [[graft.operators.AnnIndex]]
  *     assignClusters parity rule) — ties keep the earlier centroid.
  *
  * Returns struct(idx: int, sim: double) — idx is the 0-based position
  * in the centroid list (callers map it to their cid via a literal
  * array lookup), sim the winner's RAW cosine.
  *
  * NULL contract (differs from the struct-fold for null inputs, by
  * design): the kernel is `nullIntolerant`, so a NULL embedding yields
  * a NULL result — the fold it replaced returned the FIRST centroid's
  * entry for a null embedding (a null `sim` made every
  * `when(x.sim > acc.sim)` keep the initial accumulator), silently
  * assigning null rows to centroid 0. Null-in/null-out is the intended
  * semantics (pinned by the parity spec's null-embedding row); callers
  * in the catalog never feed null embeddings, so query results are
  * unaffected. A null ELEMENT inside a non-null embedding poisons the
  * running sums through `getDouble` returning 0 in the same way the
  * HOF's zip_with/aggregate arithmetic did for its own accumulators —
  * the catalog's embeddings are containsNull=false either way. */
case class ArgMaxCosineExpr(
    child: Expression,
    centroids: Array[Array[Double]],
    scale: Long = 0L
) extends UnaryExpression with ComputeCodegen {
  require(centroids.nonEmpty, "argmax_cosine: empty centroid set")

  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  def compute(a: ArrayData): InternalRow = {
    val xs = a
    val k = centroids.length
    var bestIdx = 0
    var bestSim = Double.NaN
    var bestKey = 0L
    var j = 0
    while (j < k) {
      val c = centroids(j)
      if (xs.numElements() != c.length)
        throw new IllegalArgumentException(
          s"cosine_sim: dimension mismatch ${xs.numElements()} vs ${c.length}")
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < c.length) {
        val x = xs.getDouble(i)
        val y = c(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (j == 0) { bestSim = sim; if (scale > 0) bestKey = -math.floor(scale * sim).toLong }
      else if (scale > 0) {
        val key = -math.floor(scale * sim).toLong
        if (key < bestKey) { bestIdx = j; bestSim = sim; bestKey = key }
      } else if (sim > bestSim ||
          (java.lang.Double.isNaN(sim) && !java.lang.Double.isNaN(bestSim))) {
        bestIdx = j; bestSim = sim
      }
      j += 1
    }
    InternalRow(bestIdx, bestSim)
  }

  override protected def withNewChildInternal(newChild: Expression): ArgMaxCosineExpr =
    copy(child = newChild)
}

/** interleave_bits(c1, c2[, c3], bits): Morton / Z-order interleave of
  * the low `bits` bits of 2-3 non-negative long columns into one long —
  * bit b of child i lands at position `b·n + i`. The data-layout
  * primitive behind multi-dimensional file clustering (Delta/Iceberg
  * `OPTIMIZE ZORDER BY`): range-partition + sort by the z-value and
  * rows close in EVERY dimension land in the same file, so per-file
  * min/max statistics prune scans for predicates on ANY prefix-free
  * combination of the dimensions — the thing a single-column sort can
  * only give you for its leading column. Pure long arithmetic; higher
  * bits than `bits` are ignored
  * (callers bucket/normalize first). */
case class InterleaveBitsExpr(children: Seq[Expression], bits: Int)
    extends Expression with ComputeCodegen {
  require(children.size >= 2 && children.size <= 3,
    s"interleave_bits takes 2 or 3 columns, got ${children.size}")
  require(bits >= 1 && children.size * bits <= 63,
    s"need 1 <= bits and n*bits <= 63, got n=${children.size} bits=$bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def nullIntolerant: Boolean = true

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Long](3)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    compute(xs(0), xs(1), xs(2))
  }

  def compute(x: Long, y: Long): Long = compute(x, y, 0L)

  /** `z` is ignored with two children. */
  def compute(x: Long, y: Long, z: Long): Long = {
    val n = children.size
    var out = 0L
    var b = 0
    while (b < bits) {
      out |= ((x >>> b) & 1L) << (b * n) | ((y >>> b) & 1L) << (b * n + 1)
      if (n == 3) out |= ((z >>> b) & 1L) << (b * n + 2)
      b += 1
    }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InterleaveBitsExpr =
    copy(children = newChildren)
}

/** Column-API wrappers. */
object functions {
  def simhash64(words: Column): Column =
    toCol(SimHash64Expr(expression(words)))

  /** collect_min_k(e, k): the k SMALLEST values of `e` per group,
    * ascending — `slice(array_sort(collect_list(e)), 1, k)` as a
    * BOUNDED-HEAP aggregate (Spark's own `CollectTopK`, the
    * [[graft.operators.GroupTopK]] primitive; a
    * `TypedImperativeAggregate` over a `BoundedPriorityQueue`).
    * Identical output — the struct/element ordering is the same
    * interpreted ordering `array_sort` uses, duplicates retained,
    * nulls skipped exactly like `collect_list` — but the per-key
    * aggregation buffer never exceeds k elements and partial (map-side)
    * aggregation folds every partition's contribution down to ≤ k
    * survivors per key BEFORE the exchange. The r13 postings rewrites
    * collected the FULL posting list per key and sliced after: fine at
    * sf0.1, but one hyper-hot prefix token / boilerplate shingle shared
    * by millions of docs would build a multi-million-element buffer in
    * a single task at 100 TB (guide §2.5 skew, §5 per-task state).
    * This caps that buffer at k everywhere — map side, shuffle bytes,
    * and final merge. */
  def collect_min_k(e: Column, k: Int): Column = {
    require(k >= 1, s"collect_min_k needs k >= 1, got $k")
    org.apache.spark.sql.graft.Shim.collectTopK(e, k, reverse = true)
  }

  def interleave_bits(cols: Seq[Column], bits: Int = 21): Column =
    toCol(InterleaveBitsExpr(cols.map(c => expression(c.cast("long"))), bits))

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    toCol(MinHashSigExpr(expression(shingles), numHashes))

  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSimilarity(expression(a), expression(b)))

  def pq_encode(emb: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    toCol(PqEncodeExpr(expression(emb),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  def pq_adc_dist(qe: Column, code: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    toCol(PqAdcDistExpr(expression(qe), expression(code),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  def winnow_select(grams: Column, w: Int): Column =
    toCol(WinnowSelectExpr(expression(grams), w))

  def word_shingles(words: Column, n: Int): Column =
    toCol(WordShinglesExpr(expression(words), n))

  def md5_window_fps(text: Column, width: Int, zeroNibbles: Int): Column =
    toCol(Md5WindowFpExpr(expression(text), width, zeroNibbles))

  def line_stats(text: Column): Column =
    toCol(LineStatsExpr(expression(text)))

  def top_ngram_chars(words: Column, n: Int): Column =
    toCol(TopNgramCharsExpr(expression(words), n))

  def dup_ngram_chars(words: Column, n: Int): Column =
    toCol(DupNgramCharsExpr(expression(words), n))

  def argmax_cosine(emb: Column, centroids: Seq[Seq[Double]], scale: Long = 0L): Column =
    toCol(ArgMaxCosineExpr(expression(emb), centroids.map(_.toArray).toArray, scale))

  def dot_product(a: Column, b: Column): Column =
    toCol(DotProductExpr(expression(a), expression(b)))

  def intersect_size(a: Column, b: Column): Column =
    toCol(IntersectSizeExpr(expression(a), expression(b)))

  def char_ngrams(text: Column, n: Int): Column =
    toCol(CharNgramsExpr(expression(text), n))

  def top_ngrams_ranked(text: Column, n: Int, topN: Int): Column =
    toCol(TopNgramsRankedExpr(expression(text), n, topN))

  def ct_classify(
      text: Column,
      n: Int,
      topN: Int,
      langs: Seq[String],
      profGrams: Seq[String],
      profRanks: Seq[Seq[Long]]
  ): Column =
    toCol(CtClassifyExpr(expression(text), n, topN,
      langs.toArray, profGrams.toArray, profRanks.map(_.toArray).toArray))

  def pca_project(emb: Column, weights: Seq[Seq[Double]], means: Seq[Double]): Column =
    toCol(PcaProjectExpr(expression(emb),
      weights.map(_.toArray).toArray, means.toArray))

  def run_length_ranges(mask: Column, fill: Column): Column =
    toCol(RunLengthRanges(expression(mask), expression(fill)))

  def greedy_pack_breaks(lens: Column, maxCount: Column, maxLen: Column): Column =
    toCol(GreedyPackBreaks(expression(lens), expression(maxCount), expression(maxLen)))

  def cdc_boundaries(text: Column, window: Int, divisor: Long, mod: Long): Column =
    toCol(CdcBoundariesExpr(expression(text), window, divisor, mod))

  /** All unordered pairs of a (small, cap-bounded) posting list as
    * `array<struct<id_a, id_b>>` with `id_a = least`, `id_b = greatest`
    * — the in-row candidate generator for capped inverted-index joins:
    * a posting list already bounded at `cap` members emits its ≤
    * cap·(cap−1)/2 pairs inside the aggregation row, replacing a
    * window + self-join (two extra shuffles of every posting row) with
    * plain projection. Emits the IDENTICAL pair set the equi-join
    * `a.id < b.id` formulation produces (ids are distinct within a
    * posting). r14: ONE native loop ([[PairCombosExpr]], parity-spec'd
    * against [[pair_combos_hof]]) — the HOF tree ran interpreted and
    * its per-pair lambda dispatch dominated the candidate stage at
    * growth-probe scale. */
  def pair_combos(ids0: Column): Column =
    toCol(PairCombosExpr(expression(ids0)))

  /** The pre-r14 HOF formulation — parity-spec reference only. */
  private[graft] def pair_combos_hof(ids0: Column): Column = {
    import org.apache.spark.sql.functions._
    // bind the ids expression as a lambda variable via the
    // single-element-array trick (the Winnowing/simhash fix): every
    // element_at below references the BOUND variable, not a copy of the
    // caller's expression — otherwise a computed `ids0` (e.g. a
    // transform over a kept-postings array) re-evaluates once per
    // element_at, i.e. ~cap² times per row
    element_at(
      transform(array(ids0), ids => {
        val n = size(ids)
        val outer = when(n >= 2, sequence(lit(0), n - 2))
          .otherwise(array().cast("array<int>"))
        flatten(transform(outer, i =>
          transform(sequence(i + 1, n - 1), j =>
            struct(
              least(element_at(ids, i + 1), element_at(ids, j + 1)).as("id_a"),
              greatest(element_at(ids, i + 1), element_at(ids, j + 1))
                .as("id_b")))))
      }),
      1)
  }

  /** True integral division (`a div b`) over BIGINT/DECIMAL operands:
    * decimal `/` re-scales and ROUNDS half-up, and long `/` detours
    * through doubles past 2^53 — both wrong for exact cross-engine
    * replay of floor-scaled integer arithmetic. */
  def integral_divide(a: Column, b: Column): Column =
    toCol(IntegralDivide(expression(a), expression(b)))

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graft.Shim.column(e)

  private def expression(c: Column): Expression =
    org.apache.spark.sql.graft.Shim.expression(c)

  /** Register the functions on an existing session (tests / notebooks). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", es => CosineSimilarity(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "run_length_ranges", es => RunLengthRanges(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "greedy_pack_breaks", es => GreedyPackBreaks(es.head, es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", es => SimHash64Expr(es.head), "built-in")
  }
}

/** `spark.sql.extensions`-style injection: makes the functions available
  * in every session of the cluster without per-session registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
        (es: Seq[Expression]) => CosineSimilarity(es.head, es(1)))
    )
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("run_length_ranges"),
        new ExpressionInfo(classOf[RunLengthRanges].getName, "run_length_ranges"),
        (es: Seq[Expression]) => RunLengthRanges(es.head, es(1)))
    )
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("greedy_pack_breaks"),
        new ExpressionInfo(classOf[GreedyPackBreaks].getName, "greedy_pack_breaks"),
        (es: Seq[Expression]) => GreedyPackBreaks(es.head, es(1), es(2)))
    )
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
        (es: Seq[Expression]) => SimHash64Expr(es.head))
    )
  }
}
