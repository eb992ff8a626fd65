package graft.profiles

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** User-profile mutation operators (SURVEY.md §2.5, U1-U8) — the
  * reference's one mutable table (`_users`,
  * PostgresqlUserStorage.java:146-808) restated as an append-only
  * operation log plus a merge view. The op-log is schema-free
  * (properties as a string map; values JSON-encoded) and typed at merge
  * time, which is how dynamic profile columns (U7) avoid DDL.
  *
  * Merge semantics (exactly the reference's SQL):
  *  - create/set  (U1/U2): last-write-wins
  *  - set_once    (U3): first non-null wins (`coalesce(col, ?)`)
  *  - increment   (U4): numeric sum on top of the last set base
  *  - unset       (U5): null; later sets may overwrite
  *  - batch       (U6): just rows in the log
  *  - property "id" renamed "_id" (U8)
  *
  * Ops are folded in (ts, seq) order per user by [[ProfileMerge.fold]],
  * the one statement of the op semantics. The one distributed merge,
  * [[ProfileMerge.merge]], groups the log by user with a typed
  * Aggregator whose buffer is the user's op list (order-insensitive, so
  * partial aggregation is exact) and runs `fold` at finish; it is
  * property-tested equal to `fold`. Its memory bound is per user: the
  * buffer is that user's whole op list, so one user's history must fit
  * in one task's memory, and on a gateway the list grows with account
  * age.
  */
final case class ProfileOp(
    project: String, id: String, ts: Long, seq: Long,
    kind: String, props: Map[String, String])

object ProfileOps {
  val Create = "create"
  val Set = "set"
  val SetOnce = "set_once"
  val Increment = "increment"
  val Unset = "unset"

  /** U8: `id` is the reserved PK name (PostgresqlUserStorage.java:131-144). */
  def normalizeProps(props: Map[String, String]): Map[String, String] =
    props.map { case (k, v) => (if (k == "id") "_id" else k) -> v }
}

object ProfileMerge {

  /** Reference-exact sequential fold of one user's ops: the per-user
    * kernel of [[merge]] and the property tests. */
  def fold(ops: Seq[ProfileOp]): Map[String, String] = {
    val sorted = ops.sortBy(o => (o.ts, o.seq))
    val state = scala.collection.mutable.LinkedHashMap.empty[String, String]
    sorted.foreach { op =>
      val props = ProfileOps.normalizeProps(op.props)
      op.kind match {
        case ProfileOps.Create | ProfileOps.Set =>
          props.foreach { case (k, v) => state(k) = v }
        case ProfileOps.SetOnce =>
          props.foreach { case (k, v) =>
            if (state.get(k).orNull == null) state(k) = v }
        case ProfileOps.Increment =>
          props.foreach { case (k, v) =>
            val cur = state.get(k).flatMap(s => scala.util.Try(s.toDouble).toOption)
              .getOrElse(0.0) // coalesce(col, 0) (PostgresqlUserStorage.java:761-762)
            val delta = scala.util.Try(v.toDouble).getOrElse(0.0)
            state(k) = fmt(cur + delta)
          }
        case ProfileOps.Unset =>
          props.keys.foreach(k => state(k) = null)
        case other => throw new IllegalArgumentException(s"unknown op kind $other")
      }
    }
    state.toMap
  }

  private def fmt(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString

  implicit private val opEncoder: Encoder[ProfileOp] = Encoders.product[ProfileOp]
  implicit private val bufEncoder: Encoder[List[ProfileOp]] =
    Encoders.kryo[List[ProfileOp]]
  implicit private val outEncoder: Encoder[Map[String, String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, String]]()

  /** Typed merge UDAF: buffer accumulates ops (commutative merge),
    * finish sorts and folds — exact regardless of partial-aggregation
    * order. */
  val aggregator: Aggregator[ProfileOp, List[ProfileOp], Map[String, String]] =
    new Aggregator[ProfileOp, List[ProfileOp], Map[String, String]] {
      override def zero: List[ProfileOp] = Nil
      override def reduce(b: List[ProfileOp], a: ProfileOp): List[ProfileOp] = a :: b
      override def merge(x: List[ProfileOp], y: List[ProfileOp]): List[ProfileOp] = x ::: y
      override def finish(b: List[ProfileOp]): Map[String, String] = fold(b)
      override def bufferEncoder: Encoder[List[ProfileOp]] = bufEncoder
      override def outputEncoder: Encoder[Map[String, String]] = outEncoder
    }

  /** Profiles as (project, id, properties-map). */
  def merge(ops: Dataset[ProfileOp]): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops.groupByKey(o => (o.project, o.id))
      .agg(aggregator.toColumn.name("properties"))
      .map { case ((p, id), props) => (p, id, props) }
      .toDF("project", "id", "properties")
  }

  /** Point-in-time reconstruction: the profiles as they stood at
    * `(asOfTs, asOfSeq)` inclusive — the op-log's time-travel payoff
    * (a snapshot store can only serve "now"; the log replays any
    * moment: debugging "what did the segmentation see last Tuesday",
    * GDPR evidence, backtests). Same merge kernel over the filtered
    * prefix; cost scales with ops up to the cut, not with history
    * after it. */
  def snapshotAsOf(ops: Dataset[ProfileOp], asOfTs: Long,
      asOfSeq: Long = Long.MaxValue): DataFrame = {
    import ops.sparkSession.implicits._
    merge(ops.filter(o =>
      o.ts < asOfTs || (o.ts == asOfTs && o.seq <= asOfSeq)))
  }
}
