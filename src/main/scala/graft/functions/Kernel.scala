package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** One graft function's per-row body, declared once: the types each data
  * argument accepts, the result type, and `eval` over non-null argument
  * values. The constructor holds the call's constants, which [[Registry]]
  * reads when it builds the call; state derived from them lives in
  * `@transient lazy val`s. Kernels are case classes or case objects, so
  * equal calls are equal expressions (CSE, `groupBy(f(x)).select(f(x))`).
  * A body that reads an argument's element type (`array<float>` vs
  * `array<double>`) takes it in a second parameter list filled by
  * [[bind]], which keeps it out of equality and plan text. */
abstract class Kernel extends Product with Serializable {
  /** Accepted types, any one per data argument. */
  def inputTypes: Seq[Seq[DataType]]
  def dataType: DataType
  /** This kernel for arguments of the given resolved types. */
  def bind(types: Seq[DataType]): Kernel = this
  def eval(a: Any): Any = throw new UnsupportedOperationException(productPrefix)
  def eval(a: Any, b: Any): Any = throw new UnsupportedOperationException(productPrefix)
}

object Kernel {
  val Text: Seq[DataType] = Seq(StringType)
  val Strings: Seq[DataType] = Seq(ArrayType(StringType))
  val Vector: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))

  def isFloatArray(t: DataType): Boolean = accepts(ArrayType(FloatType), t)

  private val Blanks = java.util.regex.Pattern.compile("\\s+")

  /** The text kernels' words: `s` lowercased under `Locale.ROOT` (word
    * identity must not depend on the JVM default locale: tr_TR's
    * dotless ı would de-sync vocabularies and oracles), trimmed, split
    * on `\s+`, empty words dropped. Equal to
    * `s.toLowerCase(Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)`,
    * but the pattern is compiled once, where `String.split` compiles a
    * multi-character regex on every call. */
  def words(s: String): Array[String] =
    Blanks.split(s.toLowerCase(java.util.Locale.ROOT).trim).filter(_.nonEmpty)

  /** `got` is `want`, array nullability aside. */
  def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => accepts(w, g)
    case _                                  => want == got
  }
}

/** The one Catalyst expression over every [[Kernel]]: `name(children)`,
  * the children being the call's data arguments (two for
  * [[JaroWinkler]], one for the rest). A NULL argument gives NULL. Plan
  * text shows the children, then the kernel's constants; `sql`, and so
  * the auto-generated column name, shows the children and the constants
  * that are expressions (the PQ and Mahalanobis literals). Generated
  * code for every kernel is one `doGenCode` here. */
case class KernelExpression(name: String, kernel: Kernel, children: Seq[Expression])
    extends Expression with CodegenFallback {
  override def prettyName: String = name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.corresponds(kernel.inputTypes)((g, ok) => ok.exists(Kernel.accepts(_, g))))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires " +
      kernel.inputTypes.map(_.map(_.simpleString).mkString("|")).mkString("(", ", ", "), got ") +
      got.map(_.simpleString).mkString("(", ", ", ")"))
  }

  @transient private lazy val bound: Kernel = kernel.bind(children.map(_.dataType))

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) null
    else if (children.length == 1) bound.eval(a)
    else {
      val b = children(1).eval(input)
      if (b == null) null else bound.eval(a, b)
    }
  }

  private def args: Iterator[Any] = children.iterator ++ kernel.productIterator
  override protected def stringArgs: Iterator[Any] = args
  override def sql: String =
    args.collect { case e: Expression => e.sql }.mkString(s"$name(", ", ", ")")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelExpression = copy(children = newChildren)
}
