package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Conv, Expression, ExpressionInfo, Literal, Md5, RegExpReplace, ShiftLeft, ShiftRight, Substring}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import graft.functions.{CharDistEntropy, CosineSimilarity, Int8Stats, WordShingles}
import graft.operators.{Layout, Sharding, TextAnalysis}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions and deterministic kernels as SQL functions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works next to the Column
  * API:
  *
  *   - `cosine_sim(a, b)` — the native codegen cosine Expression;
  *   - `int8_stats(v)` — the native codegen int8-quantization statistics
  *     struct ([[graft.functions.Int8Stats]]);
  *   - `char_dist_entropy(s)` — the native codegen [a-z] distribution
  *     entropy struct ([[graft.functions.CharDistEntropy]]); pass the
  *     already-lowercased text;
  *   - `z_value(a, b[, bits])` — [[Layout.zValue]]'s Morton interleave
  *     (bits must be an integer literal: the chain unrolls at plan time);
  *   - `shuffle_key(id)` — [[Sharding.shuffleKey]]'s md5-derived 60-bit
  *     reproducible shuffle key;
  *   - `word_shingles(text, k)` — the native shingle GENERATOR
  *     ([[graft.functions.WordShingles]]), usable in LATERAL VIEW or
  *     directly in SELECT like explode;
  *   - `redact_pii(text[, minIdRun])` — the email/IP/phone/digit-run
  *     scrub chain ([[graft.operators.TextAnalysis.redactPii]]).
  *
  * The latter two expand to the same built-in-expression trees the Column
  * API builds (via the graftbridge converters), so they stay fully inside
  * whole-stage codegen.
  *
  * Install with `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("int8_stats"),
      new ExpressionInfo(classOf[Int8Stats].getName, "int8_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "int8_stats takes exactly 1 argument")
        Int8Stats(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("char_dist_entropy"),
      new ExpressionInfo(classOf[CharDistEntropy].getName, "char_dist_entropy"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "char_dist_entropy takes exactly 1 argument")
        CharDistEntropy(children.head)
      }))
    e.injectFunction(GraftExtensions.zValueFn)
    e.injectFunction(GraftExtensions.shuffleKeyFn)
    e.injectFunction(GraftExtensions.wordShinglesFn)
    e.injectFunction(GraftExtensions.redactPiiFn)
  }
}

object GraftExtensions {

  /** [[Layout.zValue]]'s interleave, built directly as a Catalyst tree
    * (a SQL function builder must return RESOLVED expressions — the
    * Column API's lazy ColumnNodes do not resolve inside SQL analysis).
    * Arithmetic matches the Column version operator for operator; the
    * `zValueMatchesColumnApi` spec pins the equivalence.
    */
  private def zValueExpr(a: Expression, b: Expression, bits: Int): Expression = {
    val mask = Literal((1L << bits) - 1, LongType)
    val al = BitwiseAnd(Cast(a, LongType), mask)
    val bl = BitwiseAnd(Cast(b, LongType), mask)
    val one = Literal(1L, LongType)
    (0 until bits).map { i =>
      BitwiseOr(
        ShiftLeft(BitwiseAnd(ShiftRight(al, Literal(i)), one), Literal(2 * i + 1)),
        ShiftLeft(BitwiseAnd(ShiftRight(bl, Literal(i)), one), Literal(2 * i)))
    }.reduce(BitwiseOr(_, _))
  }

  /** (identifier, info, builder) for `z_value`, shared with the specs. */
  val zValueFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("z_value"),
    new ExpressionInfo(Layout.getClass.getName, "z_value"),
    (children: Seq[Expression]) => {
      require(children.length == 2 || children.length == 3,
        "z_value takes (a, b) or (a, b, bits)")
      val bits = children.drop(2).headOption.map {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"z_value bits must be an integer literal, got $other")
      }.getOrElse(16)
      require(bits >= 1 && bits <= 31, s"z_value bits must be in [1,31], got $bits")
      zValueExpr(children.head, children(1), bits)
    })

  /** (identifier, info, builder) for `shuffle_key`, shared with the specs. */
  val shuffleKeyFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shuffle_key"),
    new ExpressionInfo(Sharding.getClass.getName, "shuffle_key"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "shuffle_key takes exactly 1 argument")
      // conv(substring(md5(cast(cast(id AS string) AS binary)), 1, 15), 16, 10) AS long
      Cast(
        Conv(
          Substring(
            Md5(Cast(Cast(children.head, StringType), BinaryType)),
            Literal(1), Literal(15)),
          Literal(16), Literal(10)),
        LongType)
    })

  /** [[graft.functions.WordShingles]] as a SQL generator function —
    * `SELECT doc_id, sh.__sh FROM docs LATERAL VIEW word_shingles(text, 5) sh`
    * (or directly in SELECT, like explode). k must be an integer literal:
    * the generator's output schema is fixed at plan time.
    */
  val wordShinglesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "word_shingles takes (text, k)")
      val k = children(1) match {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"word_shingles k must be an integer literal, got $other")
      }
      WordShingles(children.head, k)
    })

  /** [[graft.operators.TextAnalysis.redactPii]] as a SQL scalar —
    * `SELECT redact_pii(text)` (optional second arg: the residual
    * digit-run minimum, default 4, integer literal — the regex chain is
    * built at plan time). Expands to the same codegen'd RegExpReplace
    * chain over the SAME pattern constants the Column API uses, so the
    * two surfaces cannot drift.
    */
  val redactPiiFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("redact_pii"),
    new ExpressionInfo(TextAnalysis.getClass.getName, "redact_pii"),
    (children: Seq[Expression]) => {
      require(children.length == 1 || children.length == 2,
        "redact_pii takes (text) or (text, minIdRun)")
      val minRun = children.drop(1).headOption.map {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"redact_pii minIdRun must be an integer literal, got $other")
      }.getOrElse(4)
      def rr(x: Expression, pat: String, rep: String): Expression =
        RegExpReplace(x, Literal(pat), Literal(rep))
      rr(rr(rr(rr(children.head,
        TextAnalysis.piiEmailPattern, "[EMAIL]"),
        TextAnalysis.piiIpv4Pattern, "[IP]"),
        TextAnalysis.piiPhonePattern, "[PHONE]"),
        s"[0-9]{$minRun,}", "[ID]")
    })
}
