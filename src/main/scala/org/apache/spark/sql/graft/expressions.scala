package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/text hot paths (SURVEY.md §2b).
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) are evaluated
  * interpreted — each lambda application binds variables and allocates — and
  * they break whole-stage codegen for the surrounding operators. For the
  * per-row inner loops that dominate a 100 TB similarity scan (dot products
  * over `array<float>`, content hashes over strings), these expressions
  * generate tight primitive Java loops via `doGenCode` and read packed
  * `ArrayData` without boxing. Same results as the HOF formulations (asserted
  * in VectorFunctionsSpec), ~an order of magnitude less per-row cost.
  *
  * Lives under `org.apache.spark.sql` because the Catalyst extension points
  * it builds on (`AbstractDataType`, the Column↔Expression bridge) are
  * `private[sql]` — the conventional placement for Spark-native extension
  * libraries; only the `Column`-returning wrappers are used from graft code.
  */
object expressions {

  /** Both vector expressions accept `array<float>` OR `array<double>` on
    * each side independently (embeddings are float32; hyperplane/query
    * literals are float64 — mixing them must not force a lossy cast). The
    * element accessor is resolved from the static child type, so the
    * generated loop stays branch-free. */
  private val vecType = org.apache.spark.sql.types.TypeCollection(
    ArrayType(FloatType), ArrayType(DoubleType))

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  private def evalGet(arr: ArrayData, i: Int, dt: DataType): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  private def genGet(arr: String, i: String, dt: DataType): String = dt match {
    case FloatType => s"((double) $arr.getFloat($i))"
    case _ => s"$arr.getDouble($i)"
  }

  /** Dot product of two float/double-array columns in double precision.
    * Null if either side is null, the lengths differ, or any element is
    * null — dimension mismatches and null slots are upstream bugs (wrong
    * plane width, truncated or sparse embedding) and must surface as null,
    * exactly like the `zip_with`+`aggregate` spec formulation, not as a
    * plausible-looking partial product. The per-element null check is
    * emitted only when the static schema has containsNull=true, so
    * non-nullable arrays keep the branch-free loop. */
  case class DotProductFloat(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(vecType, vecType)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) return null
      val (lt, rt) = (elemType(left), elemType(right))
      val checkNulls = elemNullable(left) || elemNullable(right)
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        s += evalGet(x, i, lt) * evalGet(y, i, rt); i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        // element-null check emitted only when the static schema allows
        // nulls, so parquet float arrays keep the branch-free loop
        val nullCheck =
          if (elemNullable(left) || elemNullable(right))
            s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $nullCheck
           |    $s += ${genGet(a, i, elemType(left))} * ${genGet(b, i, elemType(right))};
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $s; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine similarity of two float/double-array columns in ONE pass: dot
    * and both norms accumulate in the same loop (the HOF formulation
    * re-walks the arrays five times). Zero-norm inputs yield 0.0; length
    * mismatch yields null (see [[DotProductFloat]]). */
  case class CosineSimilarityFloat(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(vecType, vecType)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_cosine"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) return null
      val (lt, rt) = (elemType(left), elemType(right))
      val checkNulls = elemNullable(left) || elemNullable(right)
      val n = x.numElements()
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        val xv = evalGet(x, i, lt); val yv = evalGet(y, i, rt)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv"); val denom = ctx.freshName("denom")
        val nullCheck =
          if (elemNullable(left) || elemNullable(right))
            s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $nullCheck
           |    double $xv = ${genGet(a, i, elemType(left))};
           |    double $yv = ${genGet(b, i, elemType(right))};
           |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |  }
           |  if (!${ev.isNull}) {
           |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |    ${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
           |  }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Karp-Rabin polynomial rolling hash of a string's code points:
    * h = Σ h*B + cp (mod M), with B=31 and M=1e9+7 so every intermediate
    * fits in a signed 64-bit value — the same recurrence is expressible in
    * any engine with 64-bit integers (the DuckDB oracle uses list_reduce).
    * The standard cheap content fingerprint for shard-local dedup and
    * winnowing-style document sketches. */
  case class RollingHash(child: Expression, base: Long = 31L, mod: Long = 1000000007L)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_rolling_hash"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * base + cp) % mod
        i += Character.charCount(cp)
      }
      h
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s"); val h = ctx.freshName("h")
        val i = ctx.freshName("i"); val cp = ctx.freshName("cp")
        s"""
           |java.lang.String $s = $c.toString();
           |long $h = 0L;
           |int $i = 0;
           |while ($i < $s.length()) {
           |  int $cp = $s.codePointAt($i);
           |  $h = ($h * ${base}L + $cp) % ${mod}L;
           |  $i += java.lang.Character.charCount($cp);
           |}
           |${ev.value} = $h;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD via `java.text.Normalizer`)
    * as a codegen'd expression — Spark has no built-in for this, yet it is
    * the mandatory first step of any web-corpus canonicalization: the same
    * visible text arrives precomposed from one crawler and decomposed from
    * another, and every downstream fingerprint/shingle/dedup operator
    * treats those byte sequences as different documents unless they are
    * normalized first. Form is validated at construction (driver-side
    * fail-fast), not per row. */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression with ExpectsInputTypes {
    private val normForm = java.text.Normalizer.Form.valueOf(form)
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_unicode_normalize"

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        input.asInstanceOf[UTF8String].toString, normForm))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s")
        s"""
           |java.lang.String $s = java.text.Normalizer.normalize(
           |  $c.toString(), java.text.Normalizer.Form.${normForm.name()});
           |${ev.value} = UTF8String.fromString($s);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Jaro-Winkler similarity (Winkler '90) as a codegen'd expression —
    * Spark ships levenshtein but not the similarity measure record-linkage
    * actually standardized on (edit distance over-penalizes transposed
    * name parts). Classic parameters: match window ⌊max(len)/2⌋−1,
    * transpositions = ⌊mismatched-match-positions / 2⌋, prefix boost
    * 0.1·l (l ≤ 4) applied only when jaro > 0.7. Verified bit-equal to
    * DuckDB's `jaro_winkler_similarity` over randomized pairs (including
    * the empty-vs-empty → 0.0 convention), so the harness oracle compares
    * hash-exact after 6dp rounding. Operates on UTF-16 code units (same
    * as codepoints outside supplementary planes — matching the intended
    * identifier/name workloads).
    *
    * The generated code is the same allocation-light primitive loop as
    * the interpreted path: two boolean flag arrays sized by the inputs,
    * no regex, no boxing — linkage-scale pair scans stay inside
    * whole-stage codegen. */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_jaro_winkler"

    override def nullSafeEval(a: Any, b: Any): Any =
      expressions.jaroWinklerSim(
        a.asInstanceOf[UTF8String].toString,
        b.asInstanceOf[UTF8String].toString)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val a = ctx.freshName("a"); val b = ctx.freshName("b")
        s"""
           |java.lang.String $a = $l.toString();
           |java.lang.String $b = $r.toString();
           |${ev.value} = org.apache.spark.sql.graft.expressions$$.MODULE$$
           |  .jaroWinklerSim($a, $b);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The Jaro-Winkler kernel shared by the interpreted and generated
    * paths (a single static call keeps the two bit-identical; the loop
    * itself is primitive arrays only). Public so the generated class can
    * link against it. */
  def jaroWinklerSim(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / la + m.toDouble / lb
      + (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    val maxPref = math.min(4, math.min(la, lb))
    var l = 0
    while (l < maxPref && a.charAt(l) == b.charAt(l)) l += 1
    jaro + 0.1 * l * (1.0 - jaro)
  }

  /** Accent folding: canonical-decompose (NFD) then drop combining marks
    * (Unicode category Mn) — é→e, ü→u — leaving base letters for
    * accent-insensitive matching, fingerprints and language-agnostic
    * joins. Character-category loop, no regex engine in the row path.
    * Matches DuckDB `strip_accents` on Latin text (both are
    * decompose-and-drop-marks). */
  case class StripAccents(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_strip_accents"

    override def nullSafeEval(input: Any): Any = {
      val d = java.text.Normalizer.normalize(
        input.asInstanceOf[UTF8String].toString,
        java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(d.length)
      var i = 0
      while (i < d.length) {
        val ch = d.charAt(i)
        if (Character.getType(ch) != Character.NON_SPACING_MARK) sb.append(ch)
        i += 1
      }
      UTF8String.fromString(sb.toString)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val d = ctx.freshName("d"); val sb = ctx.freshName("sb")
        val i = ctx.freshName("i"); val ch = ctx.freshName("ch")
        s"""
           |java.lang.String $d = java.text.Normalizer.normalize(
           |  $c.toString(), java.text.Normalizer.Form.NFD);
           |java.lang.StringBuilder $sb = new java.lang.StringBuilder($d.length());
           |for (int $i = 0; $i < $d.length(); $i++) {
           |  char $ch = $d.charAt($i);
           |  if (java.lang.Character.getType($ch) !=
           |      java.lang.Character.NON_SPACING_MARK) $sb.append($ch);
           |}
           |${ev.value} = UTF8String.fromString($sb.toString());
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Argmax-cosine cell over a CODEBOOK COLUMN — the broadcast-codebook
    * ANN assignment (Similarity.ivfAssignBroadcast). The centroid table
    * arrives as one `array<struct<cell bigint, cvec array<double>>>`
    * value (sorted by cell) riding a broadcast crossJoin, and the loop
    * over it lives in THIS kernel — so the generated code is a single
    * static call whose size is CONSTANT in k, unlike the literal-inlined
    * argmax chain that outgrows JVM codegen limits past a few thousand
    * k×dim terms. Arithmetic is the same single-pass dot/norms
    * accumulation as [[CosineSimilarityFloat]] and ties resolve to the
    * first (= lowest, given sorted input) cell — bit-identical to the
    * literal `array_max` over (cos, −cell) structs; SimilaritySpec pins
    * it. Null on: empty codebook, dimension mismatch, null element
    * (when the static schema allows element nulls). NaN-free vectors
    * assumed (as everywhere in the similarity family). */
  case class NearestCentroid(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_nearest_centroid"

    private def cvecType: DataType = right.dataType match {
      case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
        st.fields(1).dataType.asInstanceOf[ArrayType].elementType
      case _ => DoubleType
    }
    private def checkNulls: Boolean = elemNullable(left) ||
      (right.dataType match {
        case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
          st.fields(1).dataType.asInstanceOf[ArrayType].containsNull
        case _ => false
      })

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = (left.dataType, right.dataType) match {
        case (ArrayType(FloatType | DoubleType, _),
              ArrayType(st: org.apache.spark.sql.types.StructType, _))
            if st.fields.length == 2 =>
          st.fields(0).dataType == LongType &&
            (st.fields(1).dataType match {
              case ArrayType(FloatType | DoubleType, _) => true
              case _ => false
            })
        case _ => false
      }
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<float|double>, array<struct<bigint, array<float|double>>>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      expressions.nearestCentroidKernel(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], elemType(left) == FloatType,
        cvecType == FloatType, checkNulls)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Long $r = org.apache.spark.sql.graft.expressions$$.MODULE$$
           |  .nearestCentroidKernel($a, $b, ${elemType(left) == FloatType},
           |    ${cvecType == FloatType}, $checkNulls);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.longValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The [[NearestCentroid]] kernel, shared by the interpreted and
    * generated paths (one static call keeps them bit-identical). Tracks
    * the running max with strict `>`, so equal cosines keep the FIRST
    * (lowest) cell — the literal path's (cos, −cell) struct-max order. */
  def nearestCentroidKernel(vec: ArrayData, cents: ArrayData,
                            vecFloat: Boolean, cvecFloat: Boolean,
                            checkNulls: Boolean): java.lang.Long = {
    val k = cents.numElements()
    if (k == 0) return null
    val n = vec.numElements()
    var best = 0L; var bestCos = 0.0; var found = false
    var c = 0
    while (c < k) {
      val st = cents.getStruct(c, 2)
      val cell = st.getLong(0)
      val cv = st.getArray(1)
      if (cv.numElements() != n) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (vec.isNullAt(i) || cv.isNullAt(i))) return null
        val xv = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val yv = if (cvecFloat) cv.getFloat(i).toDouble else cv.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cos = if (denom == 0.0) 0.0 else dot / denom
      if (!found || cos > bestCos) { found = true; bestCos = cos; best = cell }
      c += 1
    }
    java.lang.Long.valueOf(best)
  }

  /** Argmin squared-L2 CODE over a per-subspace codebook column — the
    * broadcast-codebook PQ encode (Similarity.pqAssignBroadcast). Same
    * constant-code-size rationale as [[NearestCentroid]]; the subspace is
    * the `subDim`-wide slice of the vector at element offset `off`
    * (0-based), never materialized — the kernel indexes the parent array
    * directly, where the HOF formulation allocates a slice per codebook
    * entry. Distance is the identical left-associative (x−c)² fold as
    * the literal `subDist` chain (bit-equal doubles); ties keep the
    * first (= lowest, given sorted input) code. */
  case class NearestSubCentroid(left: Expression, right: Expression,
                                off: Int, subDim: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_nearest_subcentroid"

    private def cvecType: DataType = right.dataType match {
      case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
        st.fields(1).dataType.asInstanceOf[ArrayType].elementType
      case _ => DoubleType
    }
    private def checkNulls: Boolean = elemNullable(left) ||
      (right.dataType match {
        case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
          st.fields(1).dataType.asInstanceOf[ArrayType].containsNull
        case _ => false
      })

    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = (left.dataType, right.dataType) match {
        case (ArrayType(FloatType | DoubleType, _),
              ArrayType(st: org.apache.spark.sql.types.StructType, _))
            if st.fields.length == 2 =>
          st.fields(0).dataType == LongType &&
            (st.fields(1).dataType match {
              case ArrayType(FloatType | DoubleType, _) => true
              case _ => false
            })
        case _ => false
      }
      if (ok && off >= 0 && subDim > 0)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<float|double>, array<struct<bigint, " +
          s"array<float|double>>>) and off >= 0 < subDim, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString}, $off, $subDim)")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      expressions.nearestSubCentroidKernel(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], off, subDim,
        elemType(left) == FloatType, cvecType == FloatType, checkNulls)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Long $r = org.apache.spark.sql.graft.expressions$$.MODULE$$
           |  .nearestSubCentroidKernel($a, $b, $off, $subDim,
           |    ${elemType(left) == FloatType}, ${cvecType == FloatType}, $checkNulls);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.longValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The [[NearestSubCentroid]] kernel (shared interpreted/generated). */
  def nearestSubCentroidKernel(vec: ArrayData, entries: ArrayData,
                               off: Int, subDim: Int,
                               vecFloat: Boolean, cvecFloat: Boolean,
                               checkNulls: Boolean): java.lang.Long = {
    val k = entries.numElements()
    if (k == 0 || off + subDim > vec.numElements()) return null
    var best = 0L; var bestD = 0.0; var found = false
    var c = 0
    while (c < k) {
      val st = entries.getStruct(c, 2)
      val code = st.getLong(0)
      val cv = st.getArray(1)
      if (cv.numElements() != subDim) return null
      var s = 0.0
      var i = 0
      while (i < subDim) {
        if (checkNulls && (vec.isNullAt(off + i) || cv.isNullAt(i))) return null
        val x = (if (vecFloat) vec.getFloat(off + i).toDouble
                 else vec.getDouble(off + i)) -
          (if (cvecFloat) cv.getFloat(i).toDouble else cv.getDouble(i))
        s += x * x
        i += 1
      }
      if (!found || s < bestD) { found = true; bestD = s; best = code }
      c += 1
    }
    java.lang.Long.valueOf(best)
  }

  // -------------------------------------------------------------- wrappers

  import org.apache.spark.sql.classic.ExpressionUtils

  private def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bloom-filter build/probe over `xxhash64` key hashes — thin Column
    * wrappers around Spark's own runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the machinery
    * behind `spark.sql.optimizer.runtimeFilter.bloomFilter`). Exposing them
    * as first-class columns lets an operator build one compact sketch of a
    * huge key set (the aggregate merges map-side; only KB-MB sketches cross
    * the wire) and probe it as a pure map-side filter — the scale path for
    * dedup-vs-destination where an exact anti-join would shuffle the whole
    * batch. `keyHash` must be the SAME `xxhash64(...)` expression on both
    * build and probe side; `numBits` is sized by
    * `sketch.BloomFilter.optimalNumOfBits(n, fpp)`. */
  def bloomFilterAgg(keyHash: Column, expectedItems: Long, fpp: Double): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        toExpr(keyHash), Literal(expectedItems), Literal(numBits), 0, 0)
        .toAggregateExpression())
  }

  /** Probe: true = maybe present (false-positive rate ~fpp), false =
    * DEFINITELY absent, null = null input hash. The false-is-certain side
    * is what makes the dedup pre-filter sound. */
  def mightContain(bloom: Column, keyHash: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        toExpr(bloom), toExpr(keyHash)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductFloat(toExpr(a), toExpr(b)))

  def cosineSimilarity(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarityFloat(toExpr(a), toExpr(b)))

  def rollingHash(c: Column): Column =
    ExpressionUtils.column(RollingHash(toExpr(c)))

  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    ExpressionUtils.column(UnicodeNormalize(toExpr(c), form))

  def stripAccents(c: Column): Column =
    ExpressionUtils.column(StripAccents(toExpr(c)))

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinkler(toExpr(a), toExpr(b)))

  /** Argmax-cosine cell over a sorted (cell, cvec) codebook column. */
  def nearestCentroid(vec: Column, cents: Column): Column =
    ExpressionUtils.column(NearestCentroid(toExpr(vec), toExpr(cents)))

  /** Argmin squared-L2 code over a sorted (code, cvec) subspace codebook
    * column, against the subDim-wide slice of `vec` at element `off`. */
  def nearestSubCentroid(vec: Column, entries: Column,
                         off: Int, subDim: Int): Column =
    ExpressionUtils.column(
      NearestSubCentroid(toExpr(vec), toExpr(entries), off, subDim))
}
