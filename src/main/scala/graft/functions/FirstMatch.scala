package graft.functions

import java.util.concurrent.ConcurrentHashMap
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** An ordered table of regexes, compiled once per JVM.
  *
  * Instances are interned by (name, patterns): [[RuleTable.apply]]
  * returns the one instance for that content, and a deserialized copy
  * (a task, a broadcast plan) resolves back to it, so [[compiled]] is
  * built once per JVM however many plans, expression copies or tasks
  * carry the table. Equality is identity, which interning makes the
  * same as equal content.
  */
final class RuleTable private (val name: String, val patterns: Vector[String])
    extends Serializable {

  @transient lazy val compiled: Array[Pattern] = patterns.map(Pattern.compile).toArray

  /** Index of the first pattern whose `matcher(s).find(0)` succeeds —
    * `RLIKE` semantics — or -1 when none does or `s` is null. */
  def firstMatch(s: UTF8String): Int =
    if (s == null) -1
    else {
      val str = s.toString
      val ps = compiled
      var i = 0
      while (i < ps.length) {
        if (ps(i).matcher(str).find(0)) return i
        i += 1
      }
      -1
    }

  override def toString: String = s"$name[${patterns.length}]"

  private def readResolve(): AnyRef = RuleTable(name, patterns)
}

object RuleTable {
  private val interned = new ConcurrentHashMap[(String, Vector[String]), RuleTable]()

  def apply(name: String, patterns: Seq[String]): RuleTable =
    interned.computeIfAbsent((name, patterns.toVector),
      k => new RuleTable(k._1, k._2))
}

/** The index of the first rule in `table` that the string `child`
  * matches, as [[RuleTable.firstMatch]]: the same value as the chain
  * `CASE WHEN child RLIKE p0 THEN 0 WHEN child RLIKE p1 THEN 1 … ELSE -1
  * END`, as one leaf-sized expression instead of one branch per rule.
  *
  * A rule table is one kernel expression, not a `CaseWhen` of hundreds
  * of branches that every analysis, optimization, canonicalization,
  * explain and code generation pass would walk. Generated code reaches
  * the table through `references[]` (as [[BloomProbe]] and
  * [[ReferenceLiteral]] do) and calls the same method `eval` does, so
  * both paths share one implementation and the compiled patterns.
  * Never null: a null input gives -1.
  */
final case class FirstMatch(child: Expression, table: RuleTable)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"first_match requires a string input, got $other")
  }

  override def eval(input: InternalRow): Any =
    table.firstMatch(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ruleTable", table, classOf[RuleTable].getName)
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""${c.code}
            |final int ${ev.value} = ${c.isNull} ? -1 : $ref.firstMatch(${c.value});
            |""".stripMargin,
      isNull = FalseLiteral)
  }

  override def prettyName: String = "first_match"
  override def toString: String = s"$prettyName($child, $table)"
  override def sql: String = s"$prettyName(${child.sql}, '$table')"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FirstMatch {
  def apply(child: Column, table: RuleTable): Column =
    column(FirstMatch(expression(child), table))
}
