package graft.functions

import java.util.concurrent.ConcurrentHashMap
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** An ordered table of regexes, compiled once per JVM.
  *
  * Instances are interned by (name, patterns): [[RuleTable.apply]]
  * returns the one instance for that content, and a deserialized copy
  * (a task, a broadcast plan) resolves back to it, so [[compiled]] and
  * the memos are built once per JVM however many plans, expression
  * copies or tasks carry the table. Equality is identity, which
  * interning makes the same as equal content.
  *
  * Both lookups are memoized per input string: real traffic repeats a
  * small set of user agents and hosts, so most rows cost one hash
  * lookup instead of a regex scan.
  */
final class RuleTable private (val name: String, val patterns: Vector[String])
    extends Serializable {

  @transient lazy val compiled: Array[Pattern] = patterns.map(Pattern.compile).toArray

  @transient private lazy val matches = new RuleTable.Memo[Integer]
  @transient private lazy val captures = new RuleTable.Memo[(Int, UTF8String)]

  /** Index of the first pattern whose `matcher(s).find(0)` succeeds —
    * `RLIKE` semantics — or -1 when none does or `s` is null. */
  def firstMatch(s: UTF8String): Int =
    if (s == null) -1
    else {
      val hit = matches.get(s)
      if (hit != null) hit.intValue
      else {
        val i = scan(s.toString)
        matches.put(s, i)
        i
      }
    }

  private def scan(str: String): Int = {
    val ps = compiled
    var i = 0
    while (i < ps.length) {
      if (ps(i).matcher(str).find(0)) return i
      i += 1
    }
    -1
  }

  /** Group 1 of pattern `i`'s first match in `s`, as
    * `regexp_extract(s, patterns(i), 1)`: "" when the pattern finds
    * nothing or its group 1 takes no part in the match. Null when `s`
    * is null, `i` is no pattern's index (a [[firstMatch]] miss is -1),
    * or pattern `i` is "" (a rule with nothing to capture). */
  def capture(s: UTF8String, i: Int): UTF8String =
    if (s == null || i < 0 || i >= patterns.length || patterns(i).isEmpty) null
    else {
      val hit = captures.get(s)
      if (hit != null && hit._1 == i) hit._2
      else {
        val m = compiled(i).matcher(s.toString)
        val c =
          if (m.find(0) && m.groupCount >= 1 && m.group(1) != null) UTF8String.fromString(m.group(1))
          else UTF8String.EMPTY_UTF8
        captures.put(s, (i, c))
        c
      }
    }

  override def toString: String = s"$name[${patterns.length}]"

  private def readResolve(): AnyRef = RuleTable(name, patterns)
}

object RuleTable {
  private[graft] val MemoEntries = 4096
  private[graft] val MemoMaxBytes = 512

  /** Answers per input string. The inputs are client-supplied, so a
    * memo holds at most [[MemoEntries]] keys (it is cleared when full)
    * and never a key over [[MemoMaxBytes]] bytes: about 2 MB of keys at
    * most, whatever clients send. */
  private final class Memo[V <: AnyRef] {
    private val answers = new ConcurrentHashMap[UTF8String, V]()

    def get(s: UTF8String): V =
      if (s.numBytes > MemoMaxBytes) null.asInstanceOf[V] else answers.get(s)

    def put(s: UTF8String, v: V): Unit =
      if (s.numBytes <= MemoMaxBytes) {
        if (answers.size >= MemoEntries) answers.clear()
        // a row's string views its row's buffer, which the next row
        // may overwrite: the key owns a copy of its bytes
        answers.put(s.copy(), v): Unit
      }
  }

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

/** Group 1 of rule `index`'s match in the string `child`, as
  * [[RuleTable.capture]]: `regexp_extract(child, <rule index's
  * pattern>, 1)` for a rule index a [[FirstMatch]] gave, with the
  * pattern compiled once per JVM. A `regexp_extract` whose pattern
  * column varies per row compiles it again on every row whose pattern
  * differs from the previous row's. Null for a null input, a miss (-1)
  * or a rule without a pattern.
  */
final case class RuleCapture(child: Expression, index: Expression, table: RuleTable)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = index
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, index.dataType) match {
    case (_: StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (s, i) => TypeCheckResult.TypeCheckFailure(
      s"rule_capture requires a string and an int rule index, got $s, $i")
  }

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    val i = index.eval(input)
    if (s == null || i == null) null
    else table.capture(s.asInstanceOf[UTF8String], i.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ruleTable", table, classOf[RuleTable].getName)
    val s = child.genCode(ctx)
    val i = index.genCode(ctx)
    ev.copy(code =
      code"""${s.code}
            |${i.code}
            |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
            |  ${s.isNull} || ${i.isNull} ? null : $ref.capture(${s.value}, ${i.value});
            |final boolean ${ev.isNull} = ${ev.value} == null;
            |""".stripMargin)
  }

  override def prettyName: String = "rule_capture"
  override def toString: String = s"$prettyName($child, $index, $table)"
  override def sql: String = s"$prettyName(${child.sql}, ${index.sql}, '$table')"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, index = newRight)
}

object RuleCapture {
  def apply(child: Column, index: Column, table: RuleTable): Column =
    column(RuleCapture(expression(child), expression(index), table))
}
