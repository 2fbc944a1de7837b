package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over a string's UTF-16 code units:
  * `h := seed; h := (h * 31 + char) mod 2^32`.
  *
  * This is the engine's portable text-hash primitive — the inner loop of
  * MinHash/SimHash/fingerprinting — implemented as a native Catalyst
  * expression WITH codegen so it stays inside WholeStageCodegen on the hot
  * path (a Scala UDF would break codegen and serialize per row).
  *
  * The same fold is trivially expressible in ANSI/DuckDB SQL
  * (`list_reduce` over `ascii(substring(...))`), which is what makes the
  * dedup/fingerprint queries oracle-checkable across engines. For ASCII
  * input (all driver text data) code units == code points == `ascii()`.
  */
case class CharFold(child: Expression, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "char_fold"

  private final val Mask = 0xFFFFFFFFL // mod 2^32: h*31+c < 2^37, mask == mod

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = seed
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i).toLong) & Mask
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |String $s = $c.toString();
         |long $h = ${seed}L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = ($h * 31L + (long) $s.charAt($i)) & ${Mask}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharFold =
    copy(child = newChild)
}

object GraftFunctions {
  /** Idempotent runtime registration of graft SQL functions on a session —
    * same builder list as the [[GraftExtensions]] session-extension path.
    * Functions the session already has (every `graft.Sessions` session
    * gets them from the extension) are left as they are. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.all.foreach { case (ident, _, builder) =>
      if (!registry.functionExists(ident))
        registry.createOrReplaceTempFunction(ident.funcName, builder, "scala_udf")
    }
  }
}
