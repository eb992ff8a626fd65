package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-model training-example construction — over the event log
  * (sq1–sq3: next-event prediction windows, the dataset shape
  * sequential recommenders and session models train on, plus
  * deterministic negative sampling) and over the document corpus
  * (sq4: fill-in-the-middle splits, the seq2seq/infilling example
  * shape). The reference's event log is query-only; these turn it
  * into training data with the same oracle discipline as the rest of
  * the registry.
  *
  * Scale posture (100 TB): sq1 is ONE shuffle (hash by user) and one
  * ordered window pass per user partition — the same shape as
  * sessionization (w2), with per-user state bounded by the context
  * width. sq2 is shuffle-free on the event side: the label vocabulary
  * (event types — small by nature, it is an enum in every real
  * pipeline) reduces to a 1-row broadcast and the per-row candidate
  * ranking is an array sort of |vocab| structs inside the scan
  * projection. A huge-vocab variant would replace the sort with
  * hash-bucketed draws; at enum scale the sort is exact and cheaper.
  */
object SequenceQueries {

  /** Context window width (previous events per example). Public: the
    * streaming twin ([[graft.streaming.SequenceState]]) defaults to it
    * so the batch/stream parity contract survives retuning. */
  val C = 5

  /** Negatives per example. */
  private val M = 2

  /** Delimiter for the oracle-facing scalar encoding of array columns:
    * the driver's comparator cannot hash array cells, so every
    * registered row joins its arrays with the ASCII unit separator —
    * unambiguous for event-type vocabularies (which never contain
    * control characters) and readable in a mismatch report where an
    * md5 digest would not be. The array-returning `*From` builders stay
    * the programmatic API. */
  private val Sep = "\u001f"
  private val SepSql = "chr(31)"

  /** SQ1: next-event prediction examples — for every event with at
    * least one predecessor, the up-to-[[C]] previous event types (in
    * event order) and the current type as label. Order inside a user
    * is (ts, event_id): event_id breaks timestamp ties, so the window
    * content is a total order and the emitted arrays are
    * deterministic — the retry/speculation-safety rule every other
    * hash-keyed decision in this engine follows. */
  def sq1From(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-C, -1)
    events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("context", collect_list($"event_type").over(w))
      .filter(size($"context") > 0)
      .select(
        $"user_id",
        $"event_id",
        $"event_type".as("label"),
        $"context",
        size($"context").as("n_context"))
  }

  def sq1NextEvent(spark: SparkSession, dir: String): DataFrame =
    sq1From(Tables(spark, dir, "events"))
      .withColumn("context", concat_ws(Sep, col("context")))

  val sq1Sql: String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, event_type,
       |    list(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN $C PRECEDING AND 1 PRECEDING) AS context
       |  FROM events)
       |SELECT user_id, event_id, event_type AS label,
       |  array_to_string(context, $SepSql) AS context,
       |  CAST(len(context) AS INT) AS n_context
       |FROM x WHERE len(context) > 0""".stripMargin

  /** SQ2: deterministic negative sampling — for every event, [[M]]
    * event types that are NOT the label, drawn by ranking the
    * vocabulary on `md5(event_id || ':' || type)`: a fresh
    * pseudo-random order per example, yet reproducible under retries
    * and engine-independent (hex md5 compares identically everywhere).
    * The vocabulary reduces once (sorted collect_set → 1-row
    * broadcast) and the draw is an array sort in the scan projection —
    * the event side never shuffles. */
  def sq2From(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val vocab = events.agg(
      sort_array(collect_set($"event_type")).as("vocab"))
    events
      .select($"user_id", $"event_id", $"event_type".as("label"))
      .crossJoin(broadcast(vocab))
      .withColumn("negatives", expr(
        s"""transform(
           |  slice(
           |    filter(
           |      array_sort(transform(vocab,
           |        t -> struct(md5(CAST(concat(CAST(event_id AS STRING), ':', t) AS BINARY)) AS h,
           |                    t AS t))),
           |      s -> s.t != label),
           |    1, $M),
           |  s -> s.t)""".stripMargin))
      .select($"user_id", $"event_id", $"label", $"negatives")
  }

  def sq2Negatives(spark: SparkSession, dir: String): DataFrame =
    sq2From(Tables(spark, dir, "events"))
      .withColumn("negatives", concat_ws(Sep, col("negatives")))

  val sq2Sql: String =
    s"""WITH v AS (
       |  SELECT list(t ORDER BY t) AS vocab
       |  FROM (SELECT DISTINCT event_type AS t FROM events)),
       |e AS (
       |  SELECT user_id, event_id, event_type AS label, vocab
       |  FROM events, v)
       |SELECT user_id, event_id, label,
       |  array_to_string(list_transform(
       |    list_slice(
       |      list_filter(
       |        list_sort(list_transform(vocab,
       |          t -> {'h': md5(CAST(event_id AS VARCHAR) || ':' || t),
       |                't': t})),
       |        s -> s.t <> label),
       |      1, $M),
       |    s -> s.t), $SepSql) AS negatives
       |FROM e""".stripMargin

  /** SQ3: session-scoped next-event examples — sq1 with the context
    * window RESET at every >30-minute gap (w2's session rule): a
    * session model must not see context from a visit that ended hours
    * ago. Session id = running count of gap-breaks per user (one extra
    * window column on the same user partition pass — the shuffle count
    * is unchanged from sq1), then the example window partitions by
    * (user, session). Emitted rows carry the session index so examples
    * stay joinable back to session-grain features. */
  def sq3From(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    // THE w2 session rule, not a copy — BehavioralQueries owns the
    // boundary definition
    val sess = BehavioralQueries.withSessionIndex(
      events.select($"user_id", $"event_id", $"ts", $"event_type"),
      "user_id", "ts", BehavioralQueries.SessionGap, Some("event_id"))
    val sw = Window.partitionBy($"user_id", $"session_idx")
      .orderBy($"ts", $"event_id").rowsBetween(-C, -1)
    sess
      .withColumn("context", collect_list($"event_type").over(sw))
      .filter(size($"context") > 0)
      .select(
        $"user_id",
        $"session_idx",
        $"event_id",
        $"event_type".as("label"),
        $"context",
        size($"context").as("n_context"))
  }

  def sq3SessionExamples(spark: SparkSession, dir: String): DataFrame =
    sq3From(Tables(spark, dir, "events"))
      .withColumn("context", concat_ws(Sep, col("context")))

  val sq3Sql: String =
    s"""WITH lagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_ts
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    sum(CASE WHEN prev_ts IS NULL
       |          OR ts > prev_ts + INTERVAL 30 MINUTE
       |        THEN 1 ELSE 0 END) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
       |  FROM lagged),
       |x AS (
       |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |    event_id, event_type,
       |    list(event_type) OVER (PARTITION BY user_id, session_idx
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN $C PRECEDING AND 1 PRECEDING) AS context
       |  FROM sess)
       |SELECT user_id, session_idx, event_id, event_type AS label,
       |  array_to_string(context, $SepSql) AS context,
       |  CAST(len(context) AS INT) AS n_context
       |FROM x WHERE len(context) > 0""".stripMargin

  /** SQ4: fill-in-the-middle (FIM) examples over the document corpus —
    * the seq2seq/infilling counterpart of sq1's decoder-style windows
    * (the FIM transform of Bavarian et al. 2022, applied at data-prep
    * time in public pipelines): each document splits at two hash-derived token
    * cuts into (prefix, middle, suffix), the model trains to produce
    * the middle from its surroundings. Cuts are `hash60(doc_id:salt) %
    * (n+1)` — reproducible under retries, engine-portable (the d2 hash
    * convention), and independent per salt, so the cut-pair
    * distribution matches drawing two uniform points. Empty segments
    * are legal FIM (a cut at 0 or n degenerates to prefix-LM /
    * suffix-LM forms — documented behavior, not an edge case). Pure
    * scan-side projection: zero shuffles, zero joins; partitioning
    * inherited from the scan at any corpus size. */
  def sq4From(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      // NULL text must produce no example in both engines (the ch1
      // dirty-corpus fence)
      .filter($"text".isNotNull)
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("c1", DedupQueries.hash60(
        concat($"doc_id".cast("string"), lit(":fim1"))) % ($"n_tokens" + 1))
      .withColumn("c2", DedupQueries.hash60(
        concat($"doc_id".cast("string"), lit(":fim2"))) % ($"n_tokens" + 1))
      .withColumn("lo", least($"c1", $"c2").cast("int"))
      .withColumn("hi", greatest($"c1", $"c2").cast("int"))
      .select(
        $"doc_id",
        $"n_tokens",
        $"lo".cast("long").as("cut_lo"),
        $"hi".cast("long").as("cut_hi"),
        concat_ws(" ", slice($"toks", lit(1), $"lo")).as("fim_prefix"),
        concat_ws(" ", slice($"toks", $"lo" + 1, $"hi" - $"lo"))
          .as("fim_middle"),
        concat_ws(" ", slice($"toks", $"hi" + 1,
          $"n_tokens".cast("int") - $"hi")).as("fim_suffix"))
  }

  def sq4FimExamples(spark: SparkSession, dir: String): DataFrame =
    sq4From(Tables(spark, dir, "documents"))

  val sq4Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT doc_id, t, n,
       |    ${DedupQueries.sqlHash60("CAST(doc_id AS VARCHAR) || ':fim1'")}
       |      % (n + 1) AS c1,
       |    ${DedupQueries.sqlHash60("CAST(doc_id AS VARCHAR) || ':fim2'")}
       |      % (n + 1) AS c2
       |  FROM d)
       |SELECT doc_id, n AS n_tokens,
       |  least(c1, c2) AS cut_lo, greatest(c1, c2) AS cut_hi,
       |  coalesce(array_to_string(list_slice(t, 1, least(c1, c2)), ' '), '')
       |    AS fim_prefix,
       |  coalesce(array_to_string(
       |    list_slice(t, least(c1, c2) + 1, greatest(c1, c2)), ' '), '')
       |    AS fim_middle,
       |  coalesce(array_to_string(list_slice(t, greatest(c1, c2) + 1, n), ' '), '')
       |    AS fim_suffix
       |FROM c""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "sq1_next_event" -> QueryDef.of(sq1Sql)(sq1NextEvent),
    "sq2_negatives" -> QueryDef.of(sq2Sql)(sq2Negatives),
    "sq3_session_examples" -> QueryDef.of(sq3Sql)(sq3SessionExamples),
    "sq4_fim_examples" -> QueryDef.of(sq4Sql)(sq4FimExamples)
  )
}
