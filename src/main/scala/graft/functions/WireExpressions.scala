package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.sources.SynthConfig

/** Native codegen expressions over the [[graft.sources.Wire]] fetch payload.
  *
  * They exist for the same reason as the sketch kernels: the hot crawl path
  * must stay inside whole-stage codegen with near-zero allocation. The
  * round-3 plan re-scanned the fetch_log payload column three times after the
  * fetch (hash scan, docs-write decode, paragraph decode) and decoded spans
  * into Scala objects for Catalyst to re-encode — the docs-write stage alone
  * measured 223 cpu-s with 45 s of GC at local[32]. Hash-at-fetch computes the
  * identity columns WHILE the payload bytes are in hand (zero extra reads);
  * the spans decode emits `UTF8String` slices of the payload array (zero
  * copy) straight as Catalyst rows. The queries reach the same doc-hash and
  * paragraph kernels by re-encoding a `spans` column ([[SpansPayloadExpr]]).
  */
object WireExpressions {

  val DocHashesSchema: StructType = StructType(Seq(
    StructField("sz", LongType),
    StructField("prefix_hash", LongType),
    StructField("content_hash", StringType),
    StructField("render_hash_plain", StringType),
    StructField("render_hash_nodigits", StringType),
    StructField("render_hash_marked", StringType)))

  val SpanSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType)))

  val ParagraphSchema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("paragraph_number", IntegerType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("reference", StringType)))

  /** The fetch result fields, in the order
    * [[graft.operators.Politeness.fetchAll]]'s flattened projection emits
    * them after (entry, salt, fetchSeq) — the fetch rows the fetch_log write
    * and the discovery/doc consumers read. */
  val FetchSchema: StructType = StructType(Seq(
    StructField("status", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("latencyMicros", LongType, nullable = false),
    StructField("doc_id", StringType),
    StructField("payload", BinaryType)))
}

/** `synthFetch(url, retry_count)` — the deterministic fetch as ONE codegen
  * expression over the sched frame (fetch-as-expression, round 4): evaluates
  * [[graft.sources.Synth.fetchRow]] exactly once per scheduled row and
  * returns the (status, kind, bytes, latencyMicros, doc_id, payload) struct.
  * Replaces the typed filter→mapPartitions chain whose row↔object round
  * trips (entry decode, FetchEvent re-encode) were ~11% of 32-thread
  * execution samples (JFR, round 4). Exactly-once evaluation is pinned in
  * PolitenessSpec via the fetchRow invocation counter — a collapsed
  * projection inlining this expression per extracted field would multiply
  * generator work silently. */
case class SynthFetchExpr(left: Expression, right: Expression,
    cfg: SynthConfig, minIntervalMicros: Long) extends BinaryExpression {
  // analysis-time type check: a mistyped url/retry_count input must fail
  // with a clear AnalysisException, not a ClassCastException inside the
  // generated code (ADVICE r4). Implemented directly (ExpectsInputTypes'
  // AbstractDataType is private[sql] in Spark 4).
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"synthFetch url argument must be STRING, got ${left.dataType.sql}")
    else if (right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"synthFetch retry_count argument must be INT, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = WireExpressions.FetchSchema
  override def nullable: Boolean = true
  override protected def nullSafeEval(url: Any, attempt: Any): Any =
    graft.sources.Synth.fetchRow(cfg,
      url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      attempt.asInstanceOf[Int], minIntervalMicros)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cfgRef = ctx.addReferenceObj("synthCfg", cfg, "graft.sources.SynthConfig")
    nullSafeCodeGen(ctx, ev, (u, a) =>
      s"${ev.value} = graft.sources.Synth.fetchRow($cfgRef, $u, $a, ${minIntervalMicros}L);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `docHashesStruct(payload)` — the D2/D3 identity columns computed straight
  * off the Wire payload bytes (struct, null when the payload carries no doc)
  * by [[graft.sources.Wire.docHashesStreaming]], the one identity: the docs
  * table stores it and `q_rendering_dedup` computes it over
  * `spansPayload(spans)`. */
case class WireDocHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = WireExpressions.DocHashesSchema
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    graft.sources.Wire.docHashesRow(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.sources.Wire.docHashesRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `wireSpans(payload)` — the doc's span array as zero-copy Catalyst rows
  * (string fields are slices of the payload byte array). Null when the
  * payload carries no doc; span order is payload order (= generation order),
  * identical to the old object-decode path. */
case class WireSpansExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(WireExpressions.SpanSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    graft.sources.Wire.spansArrayData(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.sources.Wire.spansArrayData($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `wireParagraphs(payload)` — the W1 paragraph fold + P7/P8 filter computed
  * WHILE the payload bytes are in hand (the fetch projection), as an array
  * of (page, paragraph_number, content, reference) rows. Paragraphs-at-fetch
  * removes the tail's dedicated full-payload re-scan: the paragraphs write
  * then reads only this (column-pruned) array column plus doc_id — at the
  * mega-wave scale that re-scan was 16 GB + ~700 task launches per round.
  * Null when the payload carries no doc. `q_segregate` runs it unfiltered
  * (both thresholds 0) over [[SpansPayloadExpr]]. Row content is pinned
  * equal to the typed object-path oracle in HashingSpec. */
case class WireParagraphsExpr(child: Expression,
    minSents: Int = 3, minWords: Int = 30) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(WireExpressions.ParagraphSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    graft.sources.Wire.paragraphsArrayData(input.asInstanceOf[Array[Byte]], minSents, minWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.sources.Wire.paragraphsArrayData($c, $minSents, $minWords);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `spansPayload(spans)` — a `spans` column (the [[WireExpressions.SpanSchema]]
  * fields, by name and type) written as a Wire payload
  * ([[graft.sources.Wire.spansPayload]]), so the queries reach the same
  * doc-hash and paragraph kernels the crawl runs on its fetch payloads. */
case class SpansPayloadExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def shape(t: StructType) = t.fields.toSeq.map(f => (f.name, f.dataType))
    child.dataType match {
      case ArrayType(t: StructType, _) if shape(t) == shape(WireExpressions.SpanSchema) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"spansPayload needs ARRAY<${WireExpressions.SpanSchema.sql}>, got ${other.sql}")
    }
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    graft.sources.Wire.spansPayload(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.sources.Wire.spansPayload($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API wrappers. */
object WireFunctions {
  private def c(e: Expression): Column = GraftExpressionBridge.column(e)
  private def e(col: Column): Expression = GraftExpressionBridge.expression(col)

  def docHashesStruct(payload: Column): Column = c(WireDocHashesExpr(e(payload)))
  def wireSpans(payload: Column): Column = c(WireSpansExpr(e(payload)))
  def wireParagraphs(payload: Column): Column = c(WireParagraphsExpr(e(payload)))
  def spansPayload(spans: Column): Column = c(SpansPayloadExpr(e(spans)))
  def synthFetch(url: Column, retryCount: Column, cfg: SynthConfig,
      minIntervalMicros: Long): Column =
    c(SynthFetchExpr(e(url), e(retryCount), cfg, minIntervalMicros))
}
