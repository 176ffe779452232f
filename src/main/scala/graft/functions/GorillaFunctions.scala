package graft.functions

import graft.codec.Gorilla
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for reading Gorilla/DoD segment blobs from
  * SQL / DataFrame code without a Dataset decode pass (SURVEY.md §2.9: the
  * optional Expression upgrade over the typed decode; preference order (b)
  * in the custom-operator ladder).
  *
  * `CodegenFallback` is deliberate: the per-ROW work decodes an entire
  * segment (thousands of points), so the eval call amortizes and the
  * expression sits inside a codegen'd stage without breaking neighbors.
  */
abstract class GorillaDecodeBase extends UnaryExpression with CodegenFallback
    with Serializable {
  override def nullable: Boolean = true
}

/** binary DoD blob → array<long> (timestamps in epoch-µs, or turn_idx). */
case class GorillaDecodeLongs(child: Expression) extends GorillaDecodeBase {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Gorilla.decodeTimestamps(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "gorilla_decode_longs"
}

/** binary XOR blob → array<double>. */
case class GorillaDecodeDoubles(child: Expression) extends GorillaDecodeBase {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Gorilla.decodeValues(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "gorilla_decode_doubles"
}

/** binary dictionary blob → array<string> (role/tool columns; null codes
  * decode to null elements).
  */
case class GorillaDecodeStrings(child: Expression) extends GorillaDecodeBase {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Gorilla.decodeStrings(v.asInstanceOf[Array[Byte]])
      .map(s => if (s == null) null else UTF8String.fromString(s)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "gorilla_decode_strings"
}

/** binary deflated text blob → array<string>. */
case class GorillaDecodeTexts(child: Expression) extends GorillaDecodeBase {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(Gorilla.decodeTexts(v.asInstanceOf[Array[Byte]])
      .map(UTF8String.fromString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "gorilla_decode_texts"
}

/** Generator (table function): decode a whole segment's four blobs straight
  * to output rows `(idx, tsu, role, text)` — one `LATERAL VIEW
  * gorilla_explode(idxBlob, tsBlob, roleBlob, textBlob)` replaces four
  * decode calls + `arrays_zip` + `explode`, so the zipped array-of-structs
  * never materializes per segment (at thousands of points × ~1 KB text per
  * segment, that intermediate dominated the read path's allocations).
  */
case class GorillaExplodeSegment(idxBlob: Expression, tsBlob: Expression,
    roleBlob: Expression, textBlob: Expression)
    extends Expression with Generator with CodegenFallback with Serializable {

  override def children: Seq[Expression] =
    Seq(idxBlob, tsBlob, roleBlob, textBlob)

  override def elementSchema: StructType = StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("tsu", LongType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.forall(_.dataType == BinaryType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects four binary blob columns")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ib = idxBlob.eval(input)
    val tb = tsBlob.eval(input)
    val rb = roleBlob.eval(input)
    val xb = textBlob.eval(input)
    if (ib == null || tb == null || rb == null || xb == null) Iterator.empty
    else {
      val idx = Gorilla.decodeTimestamps(ib.asInstanceOf[Array[Byte]])
      val tsu = Gorilla.decodeTimestamps(tb.asInstanceOf[Array[Byte]])
      val role = Gorilla.decodeStrings(rb.asInstanceOf[Array[Byte]])
      val text = Gorilla.decodeTexts(xb.asInstanceOf[Array[Byte]])
      Iterator.tabulate(idx.length) { i =>
        InternalRow(idx(i), tsu(i),
          if (role(i) == null) null else UTF8String.fromString(role(i)),
          UTF8String.fromString(text(i)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1), c(2), c(3))
  override def prettyName: String = "gorilla_explode"
}

/** Column-API wrappers + SQL registration. Wrappers use `call_function`,
  * so [[register]] (or the [[GraftExtensions]] config) must have run first.
  */
object GorillaFunctions {
  import org.apache.spark.sql.functions.call_function
  def decodeLongs(c: Column): Column = call_function("gorilla_decode_longs", c)
  def decodeDoubles(c: Column): Column = call_function("gorilla_decode_doubles", c)
  def decodeStrings(c: Column): Column = call_function("gorilla_decode_strings", c)
  def decodeTexts(c: Column): Column = call_function("gorilla_decode_texts", c)

  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)

  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "gorilla_decode_longs" -> (es => GorillaDecodeLongs(es.head)),
    "gorilla_decode_doubles" -> (es => GorillaDecodeDoubles(es.head)),
    "gorilla_decode_strings" -> (es => GorillaDecodeStrings(es.head)),
    "gorilla_decode_texts" -> (es => GorillaDecodeTexts(es.head)),
    "gorilla_explode" -> (es => GorillaExplodeSegment(es(0), es(1), es(2), es(3))),
    "nfc_normalize" -> (es => NfcNormalize(es.head)))

  /** Register the functions on an existing session (tests / ad-hoc).
    * Idempotent: re-registering an already-present name is skipped, so
    * callers that defensively register per query (Bench/Verify) don't
    * spam `SimpleFunctionRegistry` "function replaced" warnings into
    * every artifact tail. The builders are stateless singletons — a
    * skipped re-registration can never install a stale definition.
    */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, b) =>
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
  }
}

/** `SparkSessionExtensions` installer:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GorillaFunctions.fns.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GorillaDecodeLongs].getName, name), b))
    }
}
