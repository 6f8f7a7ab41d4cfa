package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen cosine similarity over two array<float> columns.
  *
  * Chosen over a Scala UDF so the hot loop stays inside whole-stage codegen
  * (no boxing, no Row conversion) — this is the inner loop of brute-force
  * ANN (ref capability: embedding similarity / near-dup; see SURVEY §2g).
  * Math in double for stable results across platforms.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // `ExpectsInputTypes`/`AbstractDataType` are private[sql] in the shipped
  // Spark 4.1.2 jars, so input validation goes through the public
  // checkInputDataTypes() hook instead. Either side may be array<float>
  // (stored embeddings) or array<double> (derived centroids) — the float
  // path widens to double before any arithmetic, so a float side produces
  // bit-identical results to pre-casting it to double.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _                                                  => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = $getX;
         |  final double $yv = $getY;
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen Hamming distance between two 64-bit signatures
  * (SimHash near-dup filter; SURVEY §2f). popcount(xor) — one instruction
  * pair in generated Java, no UDF overhead.
  */
case class HammingBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hamming"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared plumbing for expressions whose trailing arguments are foldable
  * space-separated word-list string literals, parsed once into
  * [[java.util.HashSet]]s of UTF8String for O(1) per-token membership.
  *
  * Why this exists: the higher-order-function formulation
  * (`transform`/`aggregate`/`filter` with per-token `isin` lambdas) runs on
  * Catalyst's interpreted lambda path — outside whole-stage codegen, one
  * boxed expression-tree walk per token. At corpus scale that was the
  * entire cost of the sentiment queries (~25-40× the DuckDB oracle, which
  * vectorizes the same list ops). A native expression keeps the token loop
  * in generated Java with hash lookups.
  */
trait WordSetArgs { self: Expression =>
  /** The foldable word-list children, in declaration order. */
  protected def wordListArgs: Seq[Expression]

  protected def parseSet(e: Expression): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val v = e.eval(InternalRow.empty)
    if (v != null)
      v.asInstanceOf[UTF8String].toString.split(" ").filter(_.nonEmpty)
        .foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  protected def checkWordArgs(tokens: Expression): TypeCheckResult =
    if (tokens.dataType match {
      case ArrayType(StringType, _) => true; case _ => false
    }) {
      val bad = wordListArgs.filterNot(e => e.foldable && e.dataType == StringType)
      if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName word-list arguments must be string literals")
    } else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${tokens.dataType.catalogString}")
}

/** Native codegen VADER-style lexicon score (SURVEY §2d; reference:
  * spark-ml-sentiment/spark_ml_sentiment.py:109-130; data asset:
  * [[VaderLexicon]]).
  *
  * Per-word GRADED valences — VADER's actual data model, not a binary
  * pos/neg split: each token looks up its valence (stored in tenths,
  * scaled here to ×1e11 integers). On a hit:
  *  1. C_INCR caps emphasis on the matched word itself, sign-aligned
  *     to the lexicon valence and gated on the document's caps
  *     differential;
  *  2. the PER-POSITION lookback cascade (r16 — vaderSentiment's
  *     sentiment_valence loop, previously the declared summed-net
  *     simplification): for each offset o = 1..3, SKIPPED entirely
  *     when the lookback word is itself a lexicon entry (VADER's
  *     membership gate), the running value vv is updated in sequence —
  *       a. scalar_inc_dec: a booster contributes magnitude
  *          m = +B_INCR·f_o, a dampener (single word or adjacent
  *          bigram whose second word sits at the offset)
  *          m = −B_INCR·f_o, distance-damped (f_o = 1/0.95/0.9);
  *          sign-aligned to the RUNNING value with the caps bonus
  *          C = C_INCR·f_o: vv>0 → m+C, vv<0 → −m−C, vv=0 → m−C
  *          (so an ALL-CAPS dampener on a positive valence FLIPS to a
  *          net boost −B+C = +0.44 — the r15-declared caps-flip);
  *       b. _negation_check at this offset: at o ≥ 2, "never so/this"
  *          scales ×5/4 and "without doubt" passes unmodified
  *          ([[VaderLexicon.NeverWords]] etc.); otherwise a negator
  *          multiplies by N_SCALAR ×−74/100. Each negator in the
  *          window multiplies SEPARATELY, interleaved with the
  *          scalars, so a booster behind a negation sees the flipped
  *          sign — VADER's cascade, not a boolean window;
  *  3. the but-clause (r15): valences before the FIRST pivot token
  *     ("but") halve, those after scale ×3/2 (VADER's _but_check).
  * Every multiply lands on an exactly divisible value at the 1e11
  * scale (see [[LexiconScore.MagBase]]), so the per-document sum is
  * exact integer arithmetic, bit-identical to the DuckDB oracle's
  * chained list_transform steps over the same constants. Non-lexicon
  * tokens contribute 0, so the lookback only runs on lexicon hits.
  *
  * Both the interpreted path and the generated code call ONE shared
  * scorer ([[LexiconScore.Model.score]]): the cascade is sequential
  * imperative logic, and duplicating it between eval and hand-written
  * Java codegen text is where cross-path divergence bugs live. The
  * call stays inside the whole-stage-codegen span (a plain JIT-hot
  * method call per row; the token loop itself is compiled Scala).
  *
  * `graft_lexicon_score(tokens, 'word:tenths …', 'negators…',
  * 'boosters…', 'dampeners… first_second…', 'butwords…',
  * 'never…|sothis…|without…|doubt…')`
  */
case class LexiconScore(tokens: Expression, lexArg: Expression,
    negatorArg: Expression, boosterArg: Expression,
    dampenerArg: Expression, butArg: Expression, idiomArg: Expression)
    extends Expression with WordSetArgs {
  import LexiconScore._

  override def children: Seq[Expression] =
    Seq(tokens, lexArg, negatorArg, boosterArg, dampenerArg, butArg, idiomArg)
  override def nullable: Boolean = tokens.nullable
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lexicon_score"

  override protected def wordListArgs: Seq[Expression] =
    Seq(lexArg, negatorArg, boosterArg, dampenerArg, butArg, idiomArg)
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = checkWordArgs(tokens)
    if (base != TypeCheckResult.TypeCheckSuccess) return base
    val raw = lexArg.eval(InternalRow.empty)
    val badEntry = raw != null &&
      raw.asInstanceOf[UTF8String].toString.split(" ").filter(_.nonEmpty)
        .exists { e =>
          val i = e.lastIndexOf(':')
          // bounded digit count: |tenths| ≤ 999999 keeps tenths·1e6 far
          // from Long overflow (a '-?\d+' check would pass values that
          // throw NumberFormatException at first task eval, or silently
          // wrap in the ×1e6 scale — VADER's real range is ±40)
          i <= 0 || !e.substring(i + 1).matches("-?\\d{1,6}")
        }
    if (badEntry)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName lexicon entries must be 'word:integer-tenths' (≤6 digits)")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** word → valence ×1e11, parsed once from the literal. Zero-valence
    * entries are DROPPED: the SQL twin's per-position CASE short-circuits
    * `v[i] = 0` to 0 before any modifier, so a 0-valence word must score
    * 0 here too — treating it as a map hit would boost/negate it to
    * a modified nonzero value and break cross-engine parity.
    */
  @transient private lazy val valence: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    val raw = lexArg.eval(InternalRow.empty)
    if (raw != null)
      raw.asInstanceOf[UTF8String].toString.split(" ").filter(_.nonEmpty)
        .foreach { e =>
          val i = e.lastIndexOf(':')
          val tenths = e.substring(i + 1).toLong
          if (tenths != 0L)
            m.put(UTF8String.fromString(e.substring(0, i)),
              java.lang.Long.valueOf(tenths * TenthScale))
        }
    m
  }
  @transient private lazy val negatorSet = parseSet(negatorArg)
  @transient private lazy val boosterSet = parseSet(boosterArg)
  @transient private lazy val butSet = parseSet(butArg)
  /** Single-word dampeners. */
  @transient private lazy val dampSingles: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val v = dampenerArg.eval(InternalRow.empty)
    if (v != null)
      v.asInstanceOf[UTF8String].toString.split(" ").filter(_.nonEmpty)
        .filterNot(_.contains("_"))
        .foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  /** Bigram dampeners, second word → candidate first words (tiny arrays:
    * "of" → ["kind", "sort"]). Keyed on the SECOND word because that is
    * the one inside the lookback window; the first is checked by direct
    * adjacency.
    */
  @transient private lazy val dampBigrams: java.util.HashMap[UTF8String, Array[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, Array[UTF8String]]()
    val v = dampenerArg.eval(InternalRow.empty)
    if (v != null)
      v.asInstanceOf[UTF8String].toString.split(" ").filter(_.contains("_"))
        .map(_.split("_", 2)).filter(_.length == 2)
        .groupBy(_(1)).foreach { case (second, pairs) =>
          m.put(UTF8String.fromString(second),
            pairs.map(p => UTF8String.fromString(p(0))))
        }
    m
  }

  /** The six '|'-separated idiom word sets: never, so/this, without,
    * doubt, least, at/very (see [[VaderLexicon.idiomArg]]).
    */
  @transient private lazy val idiomSets: IndexedSeq[java.util.HashSet[UTF8String]] = {
    val raw = idiomArg.eval(InternalRow.empty)
    val parts =
      if (raw == null) Array.empty[String]
      else raw.asInstanceOf[UTF8String].toString.split("\\|", -1)
    (0 until 6).map { k =>
      val s = new java.util.HashSet[UTF8String]()
      if (k < parts.length)
        parts(k).split(" ").filter(_.nonEmpty)
          .foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
  }

  @transient private lazy val model: LexiconModel = LexiconModel(valence,
    negatorSet, boosterSet, dampSingles, dampBigrams, butSet,
    idiomSets(0), idiomSets(1), idiomSets(2), idiomSets(3),
    idiomSets(4), idiomSets(5))

  override def eval(input: InternalRow): Any = {
    val arr = tokens.eval(input)
    if (arr == null) null else model.score(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokGen = tokens.genCode(ctx)
    val m = ctx.addReferenceObj("lexModel", model,
      classOf[LexiconModel].getName)
    ev.copy(code = code"""
      |${tokGen.code}
      |boolean ${ev.isNull} = ${tokGen.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $m.score(${tokGen.value});
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), lexArg = newChildren(1),
      negatorArg = newChildren(2), boosterArg = newChildren(3),
      dampenerArg = newChildren(4), butArg = newChildren(5),
      idiomArg = newChildren(6))
}

object LexiconScore {
  /** 1e11 scale of the integer score: a valence of 1.9 (19 tenths)
    * contributes 190000000000. Shared with the oracle SQL via
    * [[graft.operators.Sentiment]]. r15 moved 1e5 → 1e7 so the
    * distance-damped modifier scalars stay exact through ONE ×−74/100
    * negation; r16's PER-POSITION negation cascade (VADER's
    * _negation_check runs inside each lookback step, so up to THREE
    * ×−74/100 multiplies — plus one ×5/4 never-so idiom — can chain on
    * one token) needs every addend to be a multiple of 1e6 = 100³, so
    * the scale moved 1e7 → 1e11: the 5-decimal damped scalars
    * (0.27835·1e11 = 27835·1e6) and every lexicon valence
    * (tenths·1e10) are multiples of 1e6, and a 2-adic/5-adic count
    * over the worst-case multiply chains (neg/neg/neg, neg/idiom/idiom
    * …) shows every /100, /4 and but-clause /2 lands on an exactly
    * divisible value — bit-identical integer arithmetic in both
    * engines, no floor-vs-truncate divergence possible.
    */
  val MagBase = 100000000000L
  /** tenths → ×1e11 scale. */
  val TenthScale = 10000000000L
  /** VADER B_INCR 0.293 at the 1e11 scale, added sign-aligned. */
  val BoostIncr = 29300000000L
  /** VADER C_INCR 0.733 at the 1e11 scale (r14) — the ALL-CAPS emphasis,
    * added sign-aligned to a matched word when the document mixes cased
    * and all-caps tokens (VADER's allcap_differential gate: emphasis
    * means nothing in a text that is entirely shouted).
    */
  val CapIncr = 73300000000L
  /** Distance-damped modifier scalars per lookback offset 1..3 (r15):
    * VADER multiplies a modifier word's scalar by 1 / 0.95 / 0.9 as it
    * sits further from the matched word. Precomputed exact products —
    * no runtime division in either engine: B_INCR·f_o for the
    * booster/dampener magnitude and C_INCR·f_o for the ALL-CAPS bonus
    * (the whole scalar_inc_dec output is damped, bonus included).
    * r16: the bonus rides a SEPARATE table because scalar_inc_dec's
    * caps arithmetic is not sign-symmetric — for the running valence
    * vv and modifier magnitude m (+B booster / −B dampener):
    * vv>0 → m+C, vv<0 → −m−C, vv=0 → m−C. The dampener caps case
    * FLIPS to a net boost (−B+C = +0.44) on a positive valence — the
    * r15-declared approximation this closes.
    */
  val BoostAtO: IndexedSeq[Long] =
    IndexedSeq(29300000000L, 27835000000L, 26370000000L)
  val CapAtO: IndexedSeq[Long] =
    IndexedSeq(73300000000L, 69635000000L, 65970000000L)
  /** VADER punctuation amplification at the 1e11 scale (r14), applied to
    * the document SUM sign-aligned before normalization: 0.292 per '!'
    * capped at four; '?' contributes 0.18 each for two-or-three, a flat
    * 0.96 beyond (the published ep/qm rules).
    */
  val ExclIncr = 29200000000L
  val QmStep = 18000000000L
  val QmCap = 96000000000L
  /** VADER N_SCALAR −0.74 as an exact integer ratio (every value
    * reaching a negation multiply is a multiple of 100 — see the scale
    * note above).
    */
  val NegScalarNum = -74L
  val NegScalarDen = 100L
  /** The never-so/never-this idiom scaling inside _negation_check:
    * ×1.25 as the exact ratio 5/4 (every value reaching it is a
    * multiple of 4 at the 1e11 scale).
    */
  val IdiomNum = 5L
  val IdiomDen = 4L

  /** Fast-path case probe: false ⇔ the token is pure ASCII with no
    * uppercase letter — it cannot be ALL-CAPS and equals its own
    * lowercase form, so the scorer skips both case allocations. Any
    * non-ASCII byte routes to the slow (Unicode-correct) path.
    */
  def maybeCased(t: UTF8String): Boolean = {
    val n = t.numBytes
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if ((b >= 'A' && b <= 'Z') || b < 0) return true
      i += 1
    }
    false
  }
}

/** The parsed, immutable scorer state + the ONE cascade implementation
  * both [[LexiconScore]] evaluation paths call (interpreted eval and the
  * generated code's per-row call — see the class doc for why the logic
  * is not duplicated into codegen text). Serializable: the expression
  * ships it to executors inside the codegen references array.
  */
case class LexiconModel(
    valence: java.util.HashMap[UTF8String, java.lang.Long],
    negatorSet: java.util.HashSet[UTF8String],
    boosterSet: java.util.HashSet[UTF8String],
    dampSingles: java.util.HashSet[UTF8String],
    dampBigrams: java.util.HashMap[UTF8String, Array[UTF8String]],
    butSet: java.util.HashSet[UTF8String],
    neverSet: java.util.HashSet[UTF8String],
    soThisSet: java.util.HashSet[UTF8String],
    withoutSet: java.util.HashSet[UTF8String],
    doubtSet: java.util.HashSet[UTF8String],
    leastSet: java.util.HashSet[UTF8String],
    atVerySet: java.util.HashSet[UTF8String]) extends Serializable {
  import LexiconScore._

  /** VADER's negated(): the NEGATE list PLUS any token containing
    * "n't" (include_nt — "doesn't", "won't" and unlisted contractions
    * all negate; r16, closing the declared include_nt gap).
    */
  private val Nt = UTF8String.fromString("n't")
  private def isNegator(b: UTF8String): Boolean =
    negatorSet.contains(b) || b.contains(Nt)

  /** The full r16 VADER semantics over one token array — see
    * [[LexiconScore]]'s class doc for the rule inventory.
    */
  def score(a: ArrayData): Long = {
    val n = a.numElements()
    // pass 1 — case analysis (VADER's allcap_differential): per token,
    // the lowercased LOOKUP form (null = already lowercase) and the
    // ALL-CAPS flag; emphasis applies only when SOME but not ALL tokens
    // are caps. The byte scan is the fast path: a pure-ASCII token with
    // no uppercase letter allocates nothing. The same pass records the
    // FIRST but-pivot index (VADER's _but_check pivots on the first
    // occurrence).
    val low = new Array[UTF8String](n)
    val caps = new Array[Boolean](n)
    var nCaps = 0
    var butIdx = -1
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        var key = t
        if (LexiconScore.maybeCased(t)) {
          val lo = t.toLowerCase
          if (!t.equals(lo)) {
            low(i) = lo
            key = lo
            if (t.equals(t.toUpperCase)) { caps(i) = true; nCaps += 1 }
          }
        }
        if (butIdx < 0 && butSet.contains(key)) butIdx = i
      }
      i += 1
    }
    val capDiff = nCaps > 0 && nCaps < n
    // lowercased lookup form of token j, or null for a null token
    def keyAt(j: Int): UTF8String =
      if (a.isNullAt(j)) null
      else if (low(j) != null) low(j) else a.getUTF8String(j)
    var sum = 0L
    i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = valence.get(keyAt(i))
        if (v != null) {
          var vv = v.longValue()
          // caps emphasis on the matched word itself (lexicon sign —
          // at this point the running value IS the lexicon value)
          if (capDiff && caps(i)) vv += (if (vv > 0) CapIncr else -CapIncr)
          // the per-offset cascade
          var o = 1
          while (o <= 3 && i - o >= 0) {
            val b = keyAt(i - o)
            // membership gate: VADER skips the whole step (scalar AND
            // negation) when the lookback word is a lexicon entry
            if (b != null && valence.get(b) == null) {
              // scalar_inc_dec magnitude: booster +B·f_o, dampener
              // (single or adjacent bigram) −B·f_o
              var m = 0L
              if (boosterSet.contains(b)) m = BoostAtO(o - 1)
              else if (dampSingles.contains(b)) m = -BoostAtO(o - 1)
              else if (i - o - 1 >= 0) {
                val firsts = dampBigrams.get(b)
                if (firsts != null) {
                  val prev = keyAt(i - o - 1)
                  if (prev != null) {
                    var j = 0
                    while (j < firsts.length && m == 0L) {
                      if (firsts(j).equals(prev)) m = -BoostAtO(o - 1)
                      j += 1
                    }
                  }
                }
              }
              if (m != 0L) {
                val cb = if (capDiff && caps(i - o)) CapAtO(o - 1) else 0L
                vv += (if (vv > 0) m + cb else if (vv < 0) -m - cb else m - cb)
              }
              // _negation_check at this offset. The o == 3 never-so
              // condition reproduces vaderSentiment's ACTUAL precedence:
              // `never@i-3 and (so/this@i-2) or (so/this@i-1)` parses as
              // (never AND so/this@i-2) OR so/this@i-1 — so/this
              // directly before the word fires ×1.25 REGARDLESS of the
              // i-3 token (a quirk of the released analyzer, reproduced
              // faithfully — r16 review); o == 2's condition is properly
              // parenthesized and requires never
              if (o == 1) {
                if (isNegator(b)) vv = vv * NegScalarNum / NegScalarDen
              } else {
                val n1 = keyAt(i - 1)
                val n2 = if (o == 3) keyAt(i - 2) else null
                val neverIdiom =
                  if (o == 2)
                    neverSet.contains(b) && n1 != null && soThisSet.contains(n1)
                  else
                    (neverSet.contains(b) && n2 != null && soThisSet.contains(n2)) ||
                      (n1 != null && soThisSet.contains(n1))
                if (neverIdiom)
                  vv = vv * IdiomNum / IdiomDen
                else if (withoutSet.contains(b) &&
                    ((n1 != null && doubtSet.contains(n1)) ||
                      (n2 != null && doubtSet.contains(n2)))) {
                  // "without doubt": negation suppressed, value unchanged
                } else if (isNegator(b))
                  vv = vv * NegScalarNum / NegScalarDen
              }
            }
            o += 1
          }
          // _least_check (r16): "least X" (but not "at least"/"very
          // least") dampens X by N_SCALAR — VADER applies it AFTER the
          // lookback loop, under the same membership gate on "least"
          // itself. At most one extra ×−74/100 can chain here: "least"
          // occupies the offset-1 slot and is not a negator, so the
          // worst multiply chain stays within the 1e11 exactness budget
          // (see MagBase).
          if (i - 1 >= 0) {
            val b1 = keyAt(i - 1)
            if (b1 != null && valence.get(b1) == null && leastSet.contains(b1)) {
              val b2 = if (i - 2 >= 0) keyAt(i - 2) else null
              if (i - 2 < 0 || b2 == null || !atVerySet.contains(b2))
                vv = vv * NegScalarNum / NegScalarDen
            }
          }
          if (butIdx >= 0) {
            if (i < butIdx) vv = vv / 2
            else if (i > butIdx) vv = vv * 3 / 2
          }
          sum += vv
        }
      }
      i += 1
    }
    sum
  }
}

/** Native codegen count of tokens that appear in a literal word set (with
  * multiplicity) — the codegen'd twin of
  * `size(filter(toks, w => array_contains(...)))`, which runs interpreted.
  *
  * `graft_count_in(tokens, 'w1 w2 …')`
  */
case class CountTokensIn(tokens: Expression, wordsArg: Expression)
    extends BinaryExpression with WordSetArgs {

  override def left: Expression = tokens
  override def right: Expression = wordsArg
  override protected def wordListArgs: Seq[Expression] = Seq(wordsArg)
  override def checkInputDataTypes(): TypeCheckResult = checkWordArgs(tokens)
  override def nullable: Boolean = tokens.nullable
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in"

  @transient private lazy val wordSet = parseSet(wordsArg)

  override def eval(input: InternalRow): Any = {
    val arr = tokens.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    var c = 0; var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && wordSet.contains(a.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("wordSet", wordSet)
    val tokGen = tokens.genCode(ctx)
    val a = ctx.freshName("arr"); val n = ctx.freshName("n")
    val i = ctx.freshName("i"); val c = ctx.freshName("c")
    ev.copy(code = code"""
      |${tokGen.code}
      |boolean ${ev.isNull} = ${tokGen.isNull};
      |int ${ev.value} = 0;
      |if (!${ev.isNull}) {
      |  final ArrayData $a = ${tokGen.value};
      |  final int $n = $a.numElements();
      |  int $c = 0;
      |  for (int $i = 0; $i < $n; $i++) {
      |    if (!$a.isNullAt($i) && $set.contains($a.getUTF8String($i))) $c++;
      |  }
      |  ${ev.value} = $c;
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, wordsArg = newRight)
}

/** Native 60-bit SimHash signature over a token array (SURVEY §2f).
  *
  * Bit-identical to the relational formulation it replaces — per token
  * h = hexToLong(md5(w), 1, 15) (the digest's first 15 nibbles, matching
  * DuckDB's strpos-unrolled twin), per bit k a ±1 vote on (h>>k)&1, bit k
  * of the result set iff the vote sum is positive; a null token votes -1
  * on every bit exactly like the null-propagated CASE in SQL. Collapsing
  * explode → md5 → 60-column vote aggregation → bit reassembly into one
  * per-document map drops the |tokens|-row shuffle and the 60-wide
  * aggregation entirely — the signature build becomes a narrow codegen'd
  * projection over the documents scan.
  */
case class SimHashSig(tokens: Expression) extends Expression {
  import SimHashSig._

  override def children: Seq[Expression] = Seq(tokens)
  override def nullable: Boolean = tokens.nullable
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${dt.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = tokens.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    val votes = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        var k = 0; while (k < Bits) { votes(k) -= 1; k += 1 }
      } else {
        val h = tokenHash(a.getUTF8String(i))
        var k = 0
        while (k < Bits) {
          votes(k) += (if (((h >> k) & 1L) == 1L) 1 else -1); k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < Bits) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokGen = tokens.genCode(ctx)
    val a = ctx.freshName("arr"); val n = ctx.freshName("n")
    val i = ctx.freshName("i"); val k = ctx.freshName("k")
    val v = ctx.freshName("votes"); val h = ctx.freshName("h")
    val sig = ctx.freshName("sig")
    val helper = SimHashSig.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      |${tokGen.code}
      |boolean ${ev.isNull} = ${tokGen.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  final ArrayData $a = ${tokGen.value};
      |  final int $n = $a.numElements();
      |  final int[] $v = new int[$Bits];
      |  for (int $i = 0; $i < $n; $i++) {
      |    if ($a.isNullAt($i)) {
      |      for (int $k = 0; $k < $Bits; $k++) $v[$k]--;
      |    } else {
      |      final long $h = $helper.tokenHash($a.getUTF8String($i));
      |      for (int $k = 0; $k < $Bits; $k++)
      |        $v[$k] += ((($h >> $k) & 1L) == 1L) ? 1 : -1;
      |    }
      |  }
      |  long $sig = 0L;
      |  for (int $k = 0; $k < $Bits; $k++) if ($v[$k] > 0) $sig |= (1L << $k);
      |  ${ev.value} = $sig;
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0))
}

/** Native k-token shingle array: `graft_shingles(tokens, k)` returns the
  * n−k+1 space-joined k-grams of the token array — the codegen'd twin of
  * `transform(sequence(1, n−k+1), i → concat_ws(" ", element_at…))`,
  * whose per-shingle lambda ran interpreted (and re-evaluated element_at
  * k times per position). Null tokens are skipped inside a join exactly
  * like concat_ws. n < k degenerates to an empty array (callers filter
  * n ≥ k anyway, matching the oracle CTEs).
  */
case class ShingleJoin(tokens: Expression, kArg: Expression)
    extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = kArg
  override def nullable: Boolean = tokens.nullable
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) =>
      if (!kArg.foldable || kArg.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal int k")
      // k is a registered-SQL-function input: reject k < 1 here, where
      // the literal is available, so misuse is a clear analysis error —
      // k = 0 otherwise yields n+1 empty shingles and k < 0 a
      // NegativeArraySizeException at execution time
      else if (kArg.eval(InternalRow.empty).asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${dt.catalogString}")
  }

  @transient private lazy val k: Int =
    kArg.eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val arr = tokens.eval(input)
    if (arr == null) return null
    ShingleJoin.build(arr.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokGen = tokens.genCode(ctx)
    val helper = ShingleJoin.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      |${tokGen.code}
      |boolean ${ev.isNull} = ${tokGen.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $helper.build(${tokGen.value}, $k);
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, kArg = newRight)
}

object ShingleJoin {
  private val Sep = UTF8String.fromString(" ")

  def build(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val m = n - k + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var o = 0
      while (o < k) {
        parts(o) = if (a.isNullAt(i + o)) null else a.getUTF8String(i + o)
        o += 1
      }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Minimum md5 (lowercase hex) over the elements of an array<string> —
  * the winnowing-style fingerprint reduction `min_i md5(shingle_i)` as
  * ONE codegen'd scalar. The naive spelling
  * `array_min(transform(shingles, x -> md5(x)))` is a
  * HigherOrderFunction: Spark interprets the lambda per element (no
  * whole-stage codegen inside HOFs), which measured 40-60x slower than
  * this loop on the documents corpus (tx_fingerprint, r10). Digests are
  * compared as unsigned bytes — hex encoding is order-preserving — so
  * only the winning digest is hex-encoded. Null elements are skipped;
  * an empty / all-null array yields NULL (the oracle's CASE arm for
  * docs shorter than the shingle width).
  */
case class MinMd5(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_min_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) null else MinMd5.build(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val helper = MinMd5.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      |${childGen.code}
      |boolean ${ev.isNull} = ${childGen.isNull};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $helper.build(${childGen.value});
      |  ${ev.isNull} = (${ev.value} == null);
      |}
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinMd5 {
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xFF
      val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  def build(a: ArrayData): UTF8String = {
    val n = a.numElements()
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val dig = org.apache.commons.codec.digest.DigestUtils.md5(
          a.getUTF8String(i).getBytes)
        if (best == null || less(dig, best)) best = dig
      }
      i += 1
    }
    if (best == null) null
    else UTF8String.fromString(
      org.apache.commons.codec.binary.Hex.encodeHexString(best))
  }
}

/** Native MinHash signature: `graft_minhash(tokens, k, n)` walks the
  * document's k-token shingles once, hashes each shingle to the
  * unsigned 32-bit h = the first 4 bytes of its md5 digest (exactly
  * `hexToLong(md5(shingle), 1, 8)`, without the hex round trip), and
  * returns the n affine mins `min((a_j·h + b_j) mod p)`, j = 0..n−1.
  * Shingles are spelled as [[ShingleJoin]] spells them (space-joined,
  * null tokens skipped like concat_ws), so the result equals the
  * explode(graft_shingles) → md5 → n-column MIN aggregate formulation —
  * as one per-document map with no per-shingle rows and no exchange.
  * NULL for a null array and for an array with fewer than k tokens
  * (no shingle, so no min — the aggregate formulation emits no row).
  */
case class MinHashSig(tokens: Expression, kArg: Expression, nArg: Expression)
    extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = kArg
  override def third: Expression = nArg
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) =>
      def lit(e: Expression) = e.foldable && e.dataType == IntegerType
      if (!lit(kArg) || !lit(nArg))
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires literal int k and n")
      else if (kArg.eval(InternalRow.empty).asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
      else {
        val n = nArg.eval(InternalRow.empty).asInstanceOf[Int]
        if (n < 1 || n > MinHashSig.MaxN)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires 1 <= n <= ${MinHashSig.MaxN}")
        else TypeCheckResult.TypeCheckSuccess
      }
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${dt.catalogString}")
  }

  @transient private lazy val k: Int =
    kArg.eval(InternalRow.empty).asInstanceOf[Int]
  @transient private lazy val n: Int =
    nArg.eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val arr = tokens.eval(input)
    if (arr == null) null else MinHashSig.build(arr.asInstanceOf[ArrayData], k, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokGen = tokens.genCode(ctx)
    val helper = MinHashSig.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      |${tokGen.code}
      |boolean ${ev.isNull} = ${tokGen.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $helper.build(${tokGen.value}, $k, $n);
      |  ${ev.isNull} = (${ev.value} == null);
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(tokens = newFirst, kArg = newSecond, nArg = newThird)
}

object MinHashSig {
  /** One md5 per shingle, then n affine derivations of it with literal
    * constants: p = 2^31−1 and a_j < 2^31 keep a_j·h + b_j below 2^63
    * for any 32-bit h, so the affine hashes never overflow a BIGINT in
    * either engine (the oracle spells the same constants in SQL). */
  val P = 2147483647L
  def a(j: Int): Long = 1000003L * j + 12345L
  def b(j: Int): Long = 999979L * j + 67891L
  /** Largest n whose a_j stays below 2^31. */
  val MaxN = 2048

  private val Sep = ' '.toByte
  /** Never updated: each call digests with its own clone of it. */
  private val md5 = java.security.MessageDigest.getInstance("MD5")

  def build(arr: ArrayData, k: Int, n: Int): ArrayData = {
    val m = arr.numElements() - k + 1
    if (m <= 0) return null
    val md = md5.clone().asInstanceOf[java.security.MessageDigest]
    val mins = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < m) {
      var joined = false
      var o = 0
      while (o < k) {
        if (!arr.isNullAt(i + o)) {
          if (joined) md.update(Sep)
          md.update(arr.getUTF8String(i + o).getByteBuffer)
          joined = true
        }
        o += 1
      }
      val d = md.digest()
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      var j = 0
      while (j < n) {
        val v = (a(j) * h + b(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

object SimHashSig {
  /** Signature width: 15 md5 nibbles — stays positive in a signed long
    * on both engines (see operators/Dedup.SimhashBits). */
  val Bits = 60

  /** hexToLong(md5(w), 1, 15): the digest's first 15 nibbles as a long.
    * DigestUtils.md5 is what Spark's own `md5` function calls, so the
    * digest bytes are identical to the relational path's. */
  def tokenHash(w: UTF8String): Long = {
    val dig = org.apache.commons.codec.digest.DigestUtils.md5(w.getBytes)
    var h = 0L
    var j = 0
    while (j < 15) {
      val nib = (dig(j >> 1) >> (if ((j & 1) == 0) 4 else 0)) & 0xF
      h = (h << 4) | nib
      j += 1
    }
    h
  }
}

/** Native codegen EXACT scaled dot product: Σ_i floor(a_i·b_i·10^scale
  * + 0.5) accumulated as a long, returned as that sum / 10^scale.
  *
  * This is the one-expression equivalent of the exploded
  * `Portable.dsum(x * c, scale)` hash aggregate (each term rounded to
  * `scale` decimals, summed exactly): for short vectors the per-term
  * scaled longs fit a single long accumulator (|term| ≤ 10^scale ⇒
  * n·10^scale total, n ≤ ~9·10^(18−scale)), so the whole dot collapses
  * from an explode + 16-way-join + decimal aggregation into one
  * codegen'd loop per row — the PQ training/serving hot path
  * (Similarity.pq*), where it deleted three |N|·d·codes-row hash
  * aggregates. Both inputs array<double> (derived/normalized
  * coordinates); float inputs widen first like [[CosineSimilarity]].
  * Result is bit-identical to the dsum formulation because the scaled
  * per-term rounding IS the dsum rounding and long addition is exact.
  */
case class ScaledDot(left: Expression, right: Expression, scaleArg: Expression)
    extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = scaleArg
  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sdot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _                                                  => false
    }
    if (!ok(left.dataType) || !ok(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    else if (!scaleArg.foldable || scaleArg.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal int scale")
    else if (scaleArg.eval(InternalRow.empty).asInstanceOf[Int] < 0 ||
      scaleArg.eval(InternalRow.empty).asInstanceOf[Int] > 15)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires 0 <= scale <= 15")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val factor: Double =
    math.pow(10, scaleArg.eval(InternalRow.empty).asInstanceOf[Int])

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += math.floor(xv * yv * factor + 0.5).toLong
      i += 1
    }
    acc / factor
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    val i = ctx.freshName("i"); val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val getX = if (isFloat(left)) s"(double) ${aGen.value}.getFloat($i)"
      else s"${aGen.value}.getDouble($i)"
    val getY = if (isFloat(right)) s"(double) ${bGen.value}.getFloat($i)"
      else s"${bGen.value}.getDouble($i)"
    ev.copy(code = code"""
      |${aGen.code}
      |${bGen.code}
      |boolean ${ev.isNull} = ${aGen.isNull} || ${bGen.isNull};
      |double ${ev.value} = 0.0;
      |if (!${ev.isNull}) {
      |  final int $n = java.lang.Math.min(${aGen.value}.numElements(), ${bGen.value}.numElements());
      |  long $acc = 0L;
      |  for (int $i = 0; $i < $n; $i++) {
      |    $acc += (long) java.lang.Math.floor($getX * $getY * ${factor}D + 0.5);
      |  }
      |  ${ev.value} = $acc / ${factor}D;
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, scaleArg = newThird)
}

/** Native codegen Z-ORDER (Morton) key: interleaves the low 31 bits of
  * two non-negative integer columns into one 62-bit key, so sorting by
  * the key clusters rows that are close in BOTH dimensions — the layout
  * primitive behind multi-dimensional data skipping (Delta/Iceberg
  * "OPTIMIZE ZORDER BY"): files written in z-key ranges carry tight
  * min/max footers on each source column, and a reader filtering on
  * EITHER (or both) dimension skips most files, where a linear sort
  * clusters only its leading column. The spread is five shift/mask
  * steps (the standard Morton magic numbers) per side — branch-free,
  * codegen'd, O(1) per row. Inputs are masked to their low 31 bits, so
  * the key is total-ordered and positive for any long input; the layout
  * consumer ([[graft.sources.CorpusIO.writeZOrdered]]) range-partitions
  * and sorts by it at write time only — no read-path cost.
  */
case class ZOrderBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _                                             => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two integral arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def toLong(e: Expression, v: Any): Long = e.dataType match {
    case LongType    => v.asInstanceOf[Long]
    case IntegerType => v.asInstanceOf[Int].toLong
    case ShortType   => v.asInstanceOf[Short].toLong
    case ByteType    => v.asInstanceOf[Byte].toLong
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    ZOrderBits.interleave(toLong(left, a), toLong(right, b))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ZOrderBits.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.interleave((long) $a, (long) $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderBits {
  /** Spread the low 31 bits of x onto even bit positions 0,2,..,60. */
  def spread(x0: Long): Long = {
    var x = x0 & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** a's bits on even positions, b's on odd — always in [0, 2^62).
    * RAISES on values outside [0, 2^31): masking them silently (the r10
    * behavior) degrades the z-layout to noise with no signal — a loud
    * in-task error at the first bad row costs nothing and covers every
    * call site (the r10 ADVICE asked for a guard only in writeZOrdered,
    * which would have re-scanned the input once per write).
    */
  def interleave(a: Long, b: Long): Long = {
    if (((a | b) & ~0x7FFFFFFFL) != 0L)
      throw new IllegalArgumentException(
        s"graft_zorder: value outside the 31-bit Morton domain ($a, $b) — " +
          "bucket, rank, or offset wide-domain columns first")
    spread(a) | (spread(b) << 1)
  }
}

/** Bounded top-k aggregate: keeps the K SMALLEST values of `child` (by the
  * type's natural ordering — for a struct, lexicographic over its fields)
  * and returns them as a sorted array.
  *
  * This is the scale-honest replacement for the two corpus-rank idioms
  * that do NOT survive 100 TB:
  *  - `row_number() OVER (PARTITION BY g ORDER BY ...) <= k` exchanges and
  *    SORTS every row of every group for k survivors;
  *  - `slice(array_sort(collect_list(struct(...))), 1, k)` is hash-based
  *    but its partial buffers hold the WHOLE group per task before the
  *    slice.
  * Here the aggregation buffer never exceeds k elements (inserts prune
  * eagerly), partial aggregation is map-side (each task ships at most k
  * rows per group), and merges are associative — so the shuffle carries
  * k·|groups| rows no matter the corpus size. Encode "top-k by X DESC,
  * tie ASC" as `struct(-X, tie, ...payload)` — the caller picks order by
  * sign, exactly like the min-struct argmax idiom this generalizes
  * (ref capability: per-label / per-doc top-k panels — dashboard.py's
  * head(n) after sort_values; see SURVEY §2b/§2h).
  *
  * k must be a foldable positive int; buffer serialization round-trips
  * through a single-column UnsafeRow (the same array-in-row framing
  * Spark's own collect aggregates use).
  */
case class TopKStruct(
    child: Expression,
    kArg: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    scala.collection.mutable.ArrayBuffer[Any]] {

  private lazy val k: Int = kArg.eval().asInstanceOf[Number].intValue()

  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(child.dataType)

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def children: Seq[Expression] = Seq(child, kArg)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kArg.foldable) TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be foldable")
    else if (k <= 0) TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be positive, got $k")
    else if (!org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: ${child.dataType.catalogString} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Any] =
    scala.collection.mutable.ArrayBuffer.empty[Any]

  /** Sort + trim to k. Amortized: update lets the buffer grow to 2k before
    * pruning, so per-row cost is O(log k) comparisons on average. */
  private def prune(buf: scala.collection.mutable.ArrayBuffer[Any])
      : scala.collection.mutable.ArrayBuffer[Any] = {
    val sorted = buf.sortWith((a, b) => ordering.compare(a, b) < 0)
    if (sorted.length > k) sorted.take(k) else sorted
  }

  override def update(
      buf: scala.collection.mutable.ArrayBuffer[Any],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[Any] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      buf += InternalRow.copyValue(v)
      if (buf.length >= 2 * k) prune(buf) else buf
    }
  }

  override def merge(
      a: scala.collection.mutable.ArrayBuffer[Any],
      b: scala.collection.mutable.ArrayBuffer[Any]): scala.collection.mutable.ArrayBuffer[Any] =
    prune(a ++= b)

  override def eval(buf: scala.collection.mutable.ArrayBuffer[Any]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(prune(buf).toArray)

  @transient private lazy val bufProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[DataType](dataType))

  override def serialize(buf: scala.collection.mutable.ArrayBuffer[Any]): Array[Byte] = {
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
    bufProjection.apply(InternalRow(arr)).getBytes
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Any] = {
    val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buf = createAggregationBuffer()
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      buf += InternalRow.copyValue(arr.get(i, child.dataType))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStruct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStruct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kArg = newChildren(1))
}
