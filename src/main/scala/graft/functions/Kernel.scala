package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  DoubleType, FloatType, LongType, ObjectType, StringType, StructField,
  StructType}

/** A graft SQL function: the object that holds its kernel, its name,
  * its result type and the column inputs it accepts. Its kernel is the
  * method of `owner` named after the function, and [[KernelCall]] binds
  * it; [[Kernels]] declares every function.
  *
  * `constants` follow the column inputs in the kernel's argument list
  * (`k`, `w`, plane counts, codebooks); [[using]] supplies them per call.
  * `mayReturnNull` marks a kernel that answers null for a non-null input
  * (`milli_unit_vec` on an all-zero vector).
  */
final case class Kernel(owner: AnyRef, name: String, dataType: DataType,
    inputs: Seq[Kernel.Input], mayReturnNull: Boolean = false,
    constants: Seq[Any] = Nil) {

  /** This function with `constants` passed after the column inputs. */
  def using(constants: Any*): Kernel = copy(constants = constants)

  /** The function over `inputs`, as a column. */
  def apply(inputs: Column*): Column = GraftSqlBridge.column(
    KernelCall(this, inputs.map(GraftSqlBridge.expression)))
}

object Kernel {

  /** A kind of column input: the types it takes, and how a type error
    * names it (`sqlType` in a list of several inputs, `phrase` alone).
    */
  final class Input(val sqlType: String, val phrase: String)(
      val accepts: DataType => Boolean)

  val FloatVector = new Input("array<float>", "an array<float> column")({
    case ArrayType(FloatType, _) => true
    case _ => false
  })

  val MilliVector = new Input("array<bigint>", "an array<bigint> column")({
    case ArrayType(LongType, _) => true
    case _ => false
  })

  val Text = new Input("string", "a string column")(_ == StringType)

  val Bytes = new Input("binary", "binary input")(_ == BinaryType)

  /** A constant argument as a literal: ints and longs plainly, anything
    * else (codebooks, norms, profiles) as an `ObjectType` literal, which
    * generated code reads as one reference object, so the compiled class
    * is the same whatever the constant holds.
    */
  private[functions] def literal(v: Any): Literal = v match {
    case i: Int => Literal(i)
    case l: Long => Literal(l)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }
}

/** The one binding of a graft function to its kernel, in the shape of
  * Spark's own built-ins: a `RuntimeReplaceable` whose `replacement` is a
  * `StaticInvoke` of the function's kernel method.
  *
  * Analysis sees the function under its SQL name, with its own input-type
  * check and message and its own result type. The optimizer swaps in the
  * `StaticInvoke`, which whole-stage codegen compiles to one direct call
  * of the kernel (no `CodegenFallback`) and which calls the same kernel by
  * reflection when codegen is off, so the two paths cannot disagree.
  * `inputTypes` stays empty: no implicit cast is added. A null input gives
  * a null result. A `StringType` input reaches the kernel as the
  * `UTF8String` the row holds, `BinaryType` as `Array[Byte]`, an array as
  * `ArrayData`. An `owner` is a Scala object; `StaticInvoke` calls the
  * static forwarder scalac emits for each of its methods.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
  extends Expression with RuntimeReplaceable {

  override def prettyName: String = kernel.name

  override def dataType: DataType = kernel.dataType

  override def nullable: Boolean =
    kernel.mayReturnNull || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (types.length == kernel.inputs.length &&
        kernel.inputs.zip(types).forall { case (in, t) => in.accepts(t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(kernel.inputs match {
      case Seq(in) => s"${kernel.name} requires ${in.phrase}, got " +
        types.mkString(", ")
      case ins => s"${kernel.name} requires (" +
        ins.map(_.sqlType).mkString(", ") + "), got (" +
        types.mkString(", ") + ")"
    })
  }

  override lazy val replacement: Expression = StaticInvoke(
    kernel.owner.getClass, kernel.dataType, kernel.name,
    children ++ kernel.constants.map(Kernel.literal),
    returnNullable = kernel.mayReturnNull)

  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ kernel.constants.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** Every graft function's declaration: the object that holds its kernel
  * method, its SQL name, its result type and its column inputs. The
  * kernel method carries the function's SQL name, so a physical plan
  * names each function it runs
  * (`static_invoke(graft.functions.KmeansAssign.kmeans_assign(...))`).
  * A new function is a kernel method plus its declaration here.
  * `GraftExtensions` registers the functions whose constants SQL can
  * spell (none, or integer literals); the rest take array constants and
  * are reached through their Column API.
  */
object Kernels {
  import Kernel.{Bytes, FloatVector, MilliVector, Text}

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def structs(fields: (String, DataType)*) = ArrayType(
    StructType(fields.map { case (n, t) => StructField(n, t, false) }),
    containsNull = false)
  private val Kmeans = graft.functions.KmeansAssign

  val CosineSim = Kernel(VectorKernels, "cosine_sim", DoubleType,
    Seq(FloatVector, FloatVector))
  val MilliDot = Kernel(VectorKernels, "milli_dot", LongType,
    Seq(FloatVector, FloatVector))
  val MilliVec = Kernel(VectorKernels, "milli_vec", Longs, Seq(FloatVector))
  val MilliUnitVec = Kernel(VectorKernels, "milli_unit_vec", Longs,
    Seq(FloatVector), mayReturnNull = true)
  val AbsMax = Kernel(VectorKernels, "abs_max", DoubleType, Seq(FloatVector))
  val Int8Codes =
    Kernel(VectorKernels, "int8_codes", Longs, Seq(FloatVector))
  val Int8FidParts =
    Kernel(VectorKernels, "int8_fid_parts", Longs, Seq(FloatVector))
  val SignLshSig =
    Kernel(SignLsh, "sign_lsh_sig", LongType, Seq(FloatVector))
  val KmeansAssign = Kernel(Kmeans, "kmeans_assign", LongType,
    Seq(FloatVector))
  val KmeansScore = Kernel(Kmeans, "kmeans_score", LongType,
    Seq(FloatVector))
  val KmeansSecond = Kernel(Kmeans, "kmeans_second", LongType,
    Seq(FloatVector))
  val KmeansSecondId = Kernel(Kmeans, "kmeans_second_id", LongType,
    Seq(FloatVector))
  val KmeansAssignMilli = Kernel(Kmeans, "kmeans_assign_milli", LongType,
    Seq(MilliVector))
  val Md5Long60 = Kernel(HashUtil, "md5long60", LongType, Seq(Bytes))
  val LangScores = Kernel(graft.functions.LangScores, "lang_scores", Longs,
    Seq(Text))
  val WordShingles =
    Kernel(TextKernels, "word_shingles", Strings, Seq(Text))
  val CharGrams = Kernel(TextKernels, "char_grams", Strings, Seq(Text))
  val ChunkStats = Kernel(TextKernels, "chunk_stats",
    structs("chunk_idx" -> LongType, "chunk_sha" -> StringType,
      "chunk_chars" -> LongType, "chunk_tokens" -> LongType), Seq(Text))
  val WinnowFingerprints = Kernel(graft.functions.WinnowFingerprints,
    "winnow_fingerprints", Longs, Seq(Text))
  val GramHashes =
    Kernel(graft.functions.GramHashes, "gram_hashes", Longs, Seq(Text))
  val GramFirstPos = Kernel(graft.functions.GramFirstPos, "gram_first_pos",
    structs("h" -> LongType, "pos" -> LongType), Seq(Text))
}
