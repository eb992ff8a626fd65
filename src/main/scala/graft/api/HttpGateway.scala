package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Encoders, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SchemaRegistry
import graft.ingest.{BatchSources, JsonIngest}
import graft.ingest.BatchSources.IngestRejected
import graft.profiles.{ProfileMerge, ProfileOp, ProfileOps}
import graft.store.EventStore
import graft.api.HttpGateway.{Door, KeyRole, MasterRole, WriteRole}

/** The thin HTTP facade — the reference is reached over HTTP
  * (rakam/src/main/java/org/rakam/collection/EventCollectionHttpService.java:278-348
  * collects single events and signed batches;
  * rakam/src/main/java/org/rakam/plugin/user/UserHttpService.java
  * `/user/batch_operations` mutates profiles; the analysis services
  * serve reads). The reference's Netty/DI stack is platform plumbing
  * the survey scoped out; this gateway is the JDK built-in HttpServer
  * over one door table ([[doors]]): each path is one [[HttpGateway.Door]]
  * naming its method rule (POST only, or any method), the key role it
  * requires, and its handler. Every request runs the same checks in
  * the same order — CORS preflight, key role, method, handler — and
  * the handler reads its inputs through one typed reader ([[Req]],
  * [[Fields]]), so request validation lives in one place. ALL semantics —
  * name normalization, schema inference+evolution, envelope/checksum
  * validation, dead letters, the profile fold — live in the engine
  * ([[JsonIngest]], [[BatchSources]], [[EventStore]], [[ProfileMerge]]);
  * the gateway only translates HTTP ↔ engine calls, so there is nothing
  * here to drift from the batch paths the oracle checks.
  *
  * Route groups (each maps 1:1 onto a reference HTTP service):
  *  - **collect** (`EventCollectionHttpService`): `POST /event/collect`
  *    (one event, returns `1`), `POST /event/batch` (envelope, body cap
  *    + checksum), `POST /event/bulk` (no cap, checksum skipped),
  *    `POST /event/bulk/remote` (URL import through S6).
  *  - **webhooks** (`WebHookHttpService`): `/event/hook/activate`,
  *    `POST|GET /event/hook/collect/<id>` (body → stored JS
  *    `module(params, body, headers)` → ingest), `/test`, `/get`,
  *    `/list`, `/delete`.
  *  - **custom mappers** (`CustomEventMapperHttpService`):
  *    `/custom-event-mapper/create|update|delete|list|test`; stored
  *    active mappers run over every collected batch between ingest and
  *    store, with declared produced fields evolving the schema.
  *  - **project** (`ProjectHttpService`): `GET /project/schema`,
  *    `GET /project/collection`, `POST /project/schema/add`
  *    (master-key evolution, returns schema + rejections).
  *  - **users** (`UserHttpService`): `POST /user/batch_operations`,
  *    single-op doors `set_properties`/`set_properties_once`/
  *    `increment_property`/`unset_properties`, `GET /user/get?id=…`
  *    (one-user fold, id predicate pushed to the scan),
  *    `POST /user/delete` (right-to-be-forgotten).
  *  - **analysis** (the read executors): `GET /analysis/segmentation`,
  *    `/analysis/funnel`, `/analysis/retention`, `/analysis/paths`
  *    (next-event transition matrix), `/analysis/attribution`
  *    (`model=last_touch|markov` — positional credit or removal-effect
  *    shares), `/analysis/statistics` (event-explorer overview: counts per
  *    collection × month off the partition column). Every route also
  *    answers the OPTIONS preflight with the reference's CORS headers
  *    (`OptionMethodHttpService`).
  *  - **ad-hoc SQL** (`QueryHttpService`): `POST /query/execute` —
  *    collections mount as temp views, the statement runs through the
  *    full engine (Catalyst + graft extensions + AQE), row-capped.
  *  - **subscriptions** (ST1 `EventStream`):
  *    `/subscription/create|poll|delete` — file-source streams over the
  *    store with filter/projection, polled from a named memory sink.
  *  - **index services** (the incremental stores over HTTP, this
  *    engine's "beyond the reference" capability made operable):
  *    `/index/dedup/create|append|probe` — near-dup verdicts against
  *    |keys|-sized state without re-shingling history — and
  *    `/index/substring/create|append|trim` — keep-first substring
  *    dedup as a service: new batches come back REWRITTEN against
  *    every passage ever ingested, in O(delta) against |grams|-sized
  *    state (append is fenced on a required batch_id: sum-merged
  *    counts double on replay, unlike the dedup index's min) — and
  *    `/index/vocab/create|append|pairs|train|drift` — the maintained
  *    vocabulary served corpus-scan-free — and
  *    `/index/ann/create|append|query|stats|compact|reseed` —
  *    similarity search served from cell-partitioned postings with
  *    probe-pruned reads plus the occupancy stats that trigger
  *    re-seeding. Deltas ride inline JSON (service-sized) or a parquet
  *    `source` path (bulk; the door only triggers the cluster job).
  *    The substring, vocab, ann and text append doors share one
  *    contract: a required client `batch_id` through the batch fence,
  *    and the committed high-water in every response.
  *  - **tokenizer services**: `/tokenizer/train` (k BPE merges learned
  *    over an inline or parquet corpus — the response is the k-row
  *    merge list, bounded at any corpus size) and `/tokenizer/chunks`
  *    (row-capped context-window chunking).
  *  - **corpus services**: `/corpus/funnel` — the ds10 curation
  *    burn-down over a posted corpus + benchmark (≤7-row response at
  *    any corpus size).
  *  - **materialized views** (upstream `MaterializedViewHttpService` /
  *    `PrestoMaterializedViewService` semantics over
  *    [[graft.store.MaterializedView]]):
  *    `/materialized-view/create|get|list|delete|refresh`. Create
  *    materializes over everything stored; every later collect folds
  *    its batch into the |groups|-sized state (continuous-query
  *    semantics); get serves finalized results without a history scan;
  *    refresh is the full rebuild (the recovery path after deletions).
  *  - **maintenance**: `POST /admin/compact` (month-partition small-file
  *    rewrite; commits through the table manifest, superseded files
  *    linger for pinned readers) and `POST /admin/vacuum` (reaps files
  *    no retained manifest references); descriptor doors
  *    `GET /admin/configurations`,
  *    `/admin/types`, `/admin/event_mappers`, `/admin/lock_key`
  *    (`AdminHttpService`); `GET /` health check.
  *  - **api keys** (`ProjectHttpService` +
  *    rakam-spi `ApiKeyService.ProjectApiKeys`):
  *    `POST /project/create-api-keys` mints a `{master_key, write_key}`
  *    pair; `/check-api-keys` verifies pairs; `/revoke-api-keys`
  *    deletes one. Once ANY pair exists the gateway enforces roles —
  *    write doors (collect/batch/pixel, single-user property ops) take
  *    write or master, everything else (bulk, schema, analysis, query,
  *    admin) takes master, matching the reference's `@Authorization`
  *    annotations collapsed onto its two-key `ProjectApiKeys`. With no
  *    pairs minted the gateway is open (dev mode). Keys ride the
  *    `api_key`/`master_key`/`write_key` query param or header, or the
  *    body's `api.api_key` node (the envelope's slot).
  *
  * Single-writer by construction: one gateway owns a warehouse dir and
  * SERVES one project — but the lifecycle doors manage sibling project
  * namespaces in the same warehouse (`ProjectHttpService`):
  * `POST /project/create` (lock-key-gated; registry namespace + dir +
  * minted key pair), `POST /project/delete` (master-key-gated recursive
  * drop, off unless `allowProjectDeletion` — the reference's
  * `allow-project-deletion` config), `POST|GET /project/list`
  * (lock-key-gated enumeration). Multi-project serving still runs one
  * gateway per project dir. Ingest rejections map to 400 with the
  * reference's message text; key failures are 403.
  */
final class HttpGateway(
    spark: SparkSession,
    registry: SchemaRegistry,
    warehouse: String,
    project: String,
    lockKey: Option[String] = None,
    allowProjectDeletion: Boolean = false,
    // the optional geo module (the reference ships Maxmind as a module
    // too): range dims from `MaxmindDb.rangeDim`/`rangeDim6`
    geoRanges: Option[org.apache.spark.sql.DataFrame] = None,
    geoRangesV6: Option[org.apache.spark.sql.DataFrame] = None,
    // hosts the referrer mapper classifies as internal traffic
    internalHosts: Seq[String] = Seq.empty,
    // collections the batch door ignores, matched by normalized name —
    // the reference's ProjectConfig.excludeEvents
    // (EventCollectionHttpService.java:573)
    excludedCollections: Set[String] = Set.empty,
    // injected clock for the timestamp mapper (deterministic tests)
    now: () => Long = () => System.currentTimeMillis()) {

  @transient private lazy val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Declare the built-in module fields with the registry — the
    * reference's FieldDependencyBuilder flow
    * (FieldDependencyBuilder.java:12-53): each trigger field itself
    * plus every field its mapper produces when the trigger appears.
    * Without this, a `_`-reserved trigger (`_user_agent`, `_referrer`,
    * `_ip`, …) is rejected at ingest and the mapper never sees it. */
  private def declareModuleFields(): Unit = {
    import graft.core.FieldType
    def dep(trigger: String, tpe: FieldType,
        produced: Seq[(String, FieldType)]): Unit =
      registry.declareDependentFields(trigger,
        (Seq(trigger -> tpe) ++ produced)
          .map { case (n, t) => registry.Field(n, t) })
    dep("_user_agent", FieldType.STRING,
      graft.enrich.UserAgentMapper.dependentFields
        .getOrElse("_user_agent", Seq.empty))
    dep("_referrer", FieldType.STRING,
      graft.enrich.ReferrerMapper(internalHosts).dependentFields
        .getOrElse("_referrer", Seq.empty))
    dep("_upload_time", FieldType.LONG, Seq.empty)
    dep("_anonymous_user", FieldType.STRING, Seq.empty)
    dep("_x_forwarded_for", FieldType.STRING,
      Seq("_ip" -> FieldType.STRING))
    dep("_ip", FieldType.STRING,
      geoRanges.map(r4 => graft.enrich.GeoIpMapper(r4, geoRangesV6))
        .map(_.dependentFields.getOrElse("_ip", Seq.empty))
        .getOrElse(Seq.empty))
  }
  declareModuleFields()
  private val opSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def opsDir = s"$warehouse/$project/__user_ops"

  /** The virtual collection name the profile ops log answers to on the
    * admin doors (`/admin/versions`, `/admin/pin`, `/admin/diff`) and
    * in `/query/execute` `pins` — the one non-event table in the
    * commit-log story since r17. */
  private val OpsLogName = "__user_ops"
  /** The merged-profile temp view `/query/execute` mounts (the
    * reference's `_users` table, PostgresqlUserStorage.java:146-808). */
  private val UsersView = "_users"

  /** The profile ops log, read through its [[graft.store.TableManifest]]
    * snapshot — since r17 the log commits like every event table
    * (staged-move appends, manifest versions, erasure as an annotated
    * rewrite commit), so profile state has the same pins/time-travel
    * the event corpus has and a training run's `(event version, ops
    * version)` pair replays its event↔profile join exactly.
    * `version` pins the read ([[graft.store.EventStore.readAt]] — the
    * registry has no `__user_ops` entry, so the align is identity);
    * pre-erasure pins whose files were promptly deleted fail fast
    * rather than resurrect the erased user. The unpinned read shares
    * [[graft.store.EventStore.scanRaw]]'s snapshot-isolation rules
    * (manifest snapshot / legitimately-empty set / pre-manifest
    * directory fallback) — ONE copy of that logic. A missing or empty
    * log is an empty Dataset (no `id` column in the raw frame). */
  /** One-time migration of a PRE-r17 crashed erasure swap. The old ops
    * log rewrote via fixed-name dirs (`__user_ops.rewriting` staged the
    * post-erasure log, `__user_ops.erased` held the pre-erasure aside);
    * a crash between its two renames left the truth in `.rewriting`
    * with no main. The r17 manifest layout never creates these names
    * (attempt tmps are `.rewriting-<uuid>`), so on upgrade: roll a
    * main-less `.rewriting` FORWARD (rolling back would resurrect the
    * erased user), restore a main-less `.erased` as the catastrophic
    * fallback, and purge any remaining aside past the grace window —
    * it holds the ERASED user's data (RTBF). A young tmp beside an
    * intact main is left alone (an old-build gateway may be mid-swap). */
  private def migrateLegacyOpsLog(graceMs: Long = 10 * 60 * 1000L): Unit = {
    val main = new java.io.File(opsDir)
    val tmp = new java.io.File(s"$opsDir.rewriting")
    val aside = new java.io.File(s"$opsDir.erased")
    def pastGrace(f: java.io.File): Boolean =
      f.lastModified() < System.currentTimeMillis() - graceMs
    var rolledForward = false
    if (tmp.isDirectory) {
      if (!main.exists()) { rolledForward = tmp.renameTo(main) }
      else if (pastGrace(tmp)) graft.FileTree.delete(tmp)
    }
    if (aside.isDirectory) {
      if (!main.exists()) { aside.renameTo(main): Unit }
      else if (rolledForward || pastGrace(aside)) graft.FileTree.delete(aside)
    }
  }

  private def readOps(version: Option[Long] = None)
      : org.apache.spark.sql.Dataset[ProfileOp] = {
    import spark.implicits._
    val df = version match {
      case Some(v) => EventStore.readAt(spark, registry, warehouse,
        project, OpsLogName, v)
      case None => EventStore.scanRaw(spark, opsDir, emptyCols = Seq("_month"))
    }
    if (df.columns.contains("id")) df.as[ProfileOp]
    else spark.emptyDataset[ProfileOp]
  }

  private var pool: java.util.concurrent.ExecutorService = _

  /** Bind on `port` (0 = ephemeral) and serve. Returns the bound port.
    * Requests run on a small pool (Spark schedules concurrent jobs from
    * multiple threads fine); the default HttpServer executor would
    * serialize every request behind the slowest Spark job. */
  def start(port: Int = 0): Int = {
    // ops-log maintenance: the manifest commit makes a crashed erasure
    // need no recovery (the committed state is either pre- or
    // post-rewrite, never half-swapped) — only its leftovers want
    // sweeping: a crashed attempt's staging dir, and superseded files a
    // crash-between-commit-and-delete left on disk (RTBF wants them
    // gone; they are unreferenced, so vacuum reaps them past the grace)
    migrateLegacyOpsLog()
    // layout migration: a pre-bucketed log's root-level files rewrite
    // into _bucket=k/ partitions once, row-preserving, fence-claimed
    // so two gateways sharing the warehouse migrate it exactly once
    if (graft.store.TableManifest.latest(opsDir)
        .exists(_._2.exists(!_.contains("/"))) ||
        (!graft.store.TableManifest.exists(opsDir) &&
          Option(new java.io.File(opsDir).listFiles()).getOrElse(Array.empty)
            .exists(f => f.isFile && f.getName.startsWith("part-")))) {
      val token = s"v${graft.store.TableManifest.latestVersion(opsDir)
        .getOrElse(0L)}"
      graft.store.MaintenanceFence.withClaim(fencesDir, "ops-bucketize",
        token) {
        EventStore.bucketizeTable(spark, opsDir, "id")
      }: Unit
    }
    EventStore.sweepRewriteTmp(opsDir)
    graft.store.TableManifest.vacuum(opsDir): Unit
    // subscriptions are session-scoped: a previous process's spools
    // would pin vacuumed inodes forever — reap the cold ones (live
    // tails of other gateways heartbeat their markers and survive)
    graft.store.ManifestTail.sweepStale(s"$warehouse/$project"): Unit
    server = HttpServer.create(new InetSocketAddress(port), 0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    doors.foreach(d => server.createContext(d.path, dispatch(d)))
    server.start()
    server.getAddress.getPort
  }

  /** Every door the gateway serves, one entry each: path, POST-only or
    * any method, the key role it requires (`None`: open, or — the
    * pixel — checked by the handler), and the handler. The JDK server
    * routes a request to the longest matching path prefix, so `/`
    * also answers every unknown path (its 404). */
  private[api] lazy val doors: Seq[Door] = {
    val (post, any) = (true, false)
    val (master, write, open) = (Some(MasterRole), Some(WriteRole), None)
    Seq(
      Door("/event/collect", post, write, handleCollect),
      Door("/event/batch", post, write, handleBatch),
      Door("/event/pixel", any, open, handlePixel),
      Door("/event/bulk/remote", post, master, handleBulkRemote),
      Door("/event/bulk", post, master, handleBulk),
      Door("/event/copy", post, master, handleCopy),
      Door("/user/batch_operations", post, master, handleUserBatch),
      Door("/user/batch", post, write, handleUserCreateBatch),
      Door("/user/metadata", any, master, handleUserMetadata),
      Door("/user/set_properties", post, write, handleUserOp(ProfileOps.Set)),
      Door("/user/set_properties_once", post, write, handleUserOp(ProfileOps.SetOnce)),
      Door("/user/increment_property", post, write, handleIncrement),
      Door("/user/unset_properties", post, write, handleUnset),
      Door("/user/get", any, master, handleUserGet),
      Door("/user/delete", post, master, handleUserDelete),
      Door("/admin/compact", post, master, handleCompact),
      Door("/admin/vacuum", post, master, handleVacuum),
      Door("/admin/versions", any, master, handleVersions),
      Door("/admin/pin", any, master, handlePin),
      Door("/admin/diff", any, master, handleDiff),
      Door("/admin/configurations", any, master, handleAdminConfig),
      Door("/admin/types", any, master, handleAdminTypes),
      Door("/admin/event_mappers", any, master, handleAdminMappers),
      Door("/admin/lock_key", any, open, handleLockKey),
      Door("/analysis/statistics", any, master, handleStatistics),
      Door("/analysis/segmentation", any, master, handleSegmentation),
      Door("/analysis/funnel", any, master, handleFunnel),
      Door("/analysis/retention", any, master, handleRetention),
      Door("/analysis/paths", any, master, handlePaths),
      Door("/analysis/attribution", any, master, handleAttribution),
      Door("/project/schema/add/custom", post, master, handleSchemaAddCustom),
      Door("/project/schema/add", post, master, handleSchemaAdd),
      Door("/project/schema", any, master, handleSchema),
      Door("/project/collection", any, master, handleCollections),
      Door("/project/create-api-keys", post, master, handleCreateKeys),
      Door("/project/create", post, open, handleProjectCreate),
      Door("/project/delete", post, master, handleProjectDelete),
      Door("/project/list", any, open, handleProjectList),
      Door("/project/check-api-keys", post, open, handleCheckKeys),
      Door("/project/revoke-api-keys", post, open, handleRevokeKeys),
      Door("/project/exception", any, open, handleException),
      Door("/query/execute", post, master, handleQuery),
      Door("/subscription/create", post, master, handleSubCreate),
      Door("/subscription/poll", any, master, handleSubPoll),
      Door("/subscription/delete", any, master, handleSubDelete),
      Door("/event/hook/activate", post, master, handleHookActivate),
      Door("/event/hook/collect", any, open, handleHookCollect),
      Door("/event/hook/test", post, master, handleHookTest),
      Door("/event/hook/get", any, master, handleHookGet),
      Door("/event/hook/list", any, master, handleHookList),
      Door("/event/hook/delete", post, master, handleHookDelete),
      Door("/index/dedup/create", post, master, handleDedupCreate),
      Door("/index/dedup/append", post, master, handleDedupAppend),
      Door("/index/dedup/probe", post, master, handleDedupProbe),
      Door("/index/substring/create", post, master, handleSubstringCreate),
      Door("/index/substring/append", post, master, handleSubstringAppend),
      Door("/index/substring/trim", post, master, handleSubstringTrim),
      Door("/index/vocab/create", post, master, handleVocabCreate),
      Door("/index/vocab/append", post, master, handleVocabAppend),
      Door("/index/vocab/pairs", any, master, handleVocabPairs),
      Door("/index/vocab/train", any, master, handleVocabTrain),
      Door("/index/vocab/drift", any, master, handleVocabDrift),
      Door("/index/vocab/compact", post, master, handleVocabCompact),
      Door("/index/ann/create", post, master, handleAnnCreate),
      Door("/index/ann/append", post, master, handleAnnAppend),
      Door("/index/ann/query", post, master, handleAnnQuery),
      Door("/index/ann/stats", any, master, handleAnnStats),
      Door("/index/ann/compact", post, master, handleAnnCompact),
      Door("/index/ann/reseed", post, master, handleAnnReseed),
      Door("/index/text/create", post, master, handleTextCreate),
      Door("/index/text/append", post, master, handleTextAppend),
      Door("/index/text/search", post, master, handleTextSearch),
      Door("/index/text/phrase", post, master, handleTextPhrase),
      Door("/index/text/stats", any, master, handleTextStats),
      Door("/index/text/compact", post, master, handleTextCompact),
      Door("/tokenizer/train", post, master, handleTokenizerTrain),
      Door("/tokenizer/chunks", post, master, handleTokenizerChunks),
      Door("/corpus/funnel", post, master, handleCorpusFunnel),
      Door("/corpus/probe/train", post, master, handleProbeTrain),
      Door("/tokenizer/drift", post, master, handleTokenizerDrift),
      Door("/materialized-view/create", post, master, handleMvCreate),
      Door("/materialized-view/get", any, master, handleMvGet),
      Door("/materialized-view/list", any, master, handleMvList),
      Door("/materialized-view/delete", post, master, handleMvDelete),
      Door("/materialized-view/refresh", post, master, handleMvRefresh),
      Door("/custom-event-mapper/create", post, master, handleMapperCreate(update = false)),
      Door("/custom-event-mapper/update", post, master, handleMapperCreate(update = true)),
      Door("/custom-event-mapper/delete", post, master, handleMapperDelete),
      Door("/custom-event-mapper/list", any, master, handleMapperList),
      Door("/custom-event-mapper/test", post, master, handleMapperTest),
      Door("/javascript-logger/get_logs", post, master, serveJsLogs("prefix")),
      Door("/custom-event-mapper/get_logs", post, master, serveJsLogs("name")),
      Door("/", any, open, handleHealth))
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
    subscriptions.values().asScala.foreach(_.stop())
    subscriptions.clear()
  }

  // ---------------- routes ----------------

  private def handleCollect(req: Req): (Int, String) = {
    val n = ingestAndStore(resolveSentinels(Seq(req.text), req.ex),
      cfCountry = cfCountry(req.ex))
    if (n == 0) (400, """{"error":"event was not stored (see dead letter)"}""")
    else (200, "1")
  }

  /** `/event/batch` partial-failure door — an ADAPTATION of the
    * reference's contract, not a copy of it. In
    * EventCollectionHttpService.java:555-612 a shape-invalid element
    * (not an object with a string `collection` and an object
    * `properties`) fails the WHOLE request at EventList
    * deserialization (400), and the 409 int[] indexes report
    * per-event STORE failures surfaced by storeBatchAsync. Here the
    * store path is all-or-nothing per collection, so the 409 index
    * vehicle is reused for the shape failures instead: storable
    * events are stored, shape-failed ones come back as a 409 with
    * their indexes; excluded collections are ignored, not failed. */
  private def handleBatch(req: Req): (Int, String) = {
    val (good, failed) = BatchSources.checkEvents(
      BatchSources.parseEnvelope(req.text).events, excludedCollections)
    val n =
      if (good.isEmpty) 0L
      else ingestAndStore(resolveSentinels(good, req.ex), cfCountry = cfCountry(req.ex))
    if (failed.nonEmpty) (409, failed.mkString("[", ",", "]"))
    else (200, s"""{"stored":$n}""")
  }

  /** The uncapped ingest door `/event/bulk`
    * (EventCollectionHttpService.java bulkEvents:350-455): the JSON
    * envelope with NO body cap and checksum skipped — transport owns
    * integrity for bulk — and the reference's CONTENT-TYPE dispatch:
    * `text/csv` parses the body through the S3 header-remap path
    * (collection query param required, master-key semantics the door
    * already enforces), `avro` resolves the container against the
    * collection's registered schema (S4). Both typed frames run the
    * same enrich → gate → store pipeline as JSON events. */
  private def handleBulk(req: Req): (Int, String) = {
    val ct = Option(req.ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("").toLowerCase(java.util.Locale.ROOT)
    if (ct.contains("csv") || ct.contains("avro")) {
      val coll = req.query.text("collection").getOrElse(
        Fields.missing("collection query parameter"))
      val normalized = graft.core.Names.normalizeCollection(coll)
        .fold(e => throw new IngestRejected(e), identity)
      val kind = if (ct.contains("csv")) "csv" else "avro"
      // PER-REQUEST scratch, not scratchFor: the handler pool is
      // 8-wide and scratchFor keeps only two generations per key, so a
      // third concurrent same-kind bulk would evict the first
      // request's body file before its lazy Spark read (which runs
      // later, inside writeLock) ever executes. A private dir has no
      // eviction race; it is released eagerly once enrichAndStore has
      // run every action over it.
      val dir = graft.TempDirs.scratch(s"gateway-bulk-$kind")
      try {
        val f = dir.resolve(s"body.$kind")
        val bytes = req.bytes
        if (kind == "avro") {
          // validate the container EAGERLY: a malformed body must be the
          // client's 400 here, not a lazy SparkException-wrapped 500 when
          // the ingest frame first executes
          try {
            val in = new java.io.ByteArrayInputStream(bytes)
            new org.apache.avro.file.DataFileStream(in,
              new org.apache.avro.generic.GenericDatumReader[AnyRef]()).close()
          } catch {
            case NonFatal(e) =>
              throw new IngestRejected(
                s"invalid Avro container: ${String.valueOf(e.getMessage)}")
          }
        }
        java.nio.file.Files.write(f, bytes)
        val df =
          try {
            if (kind == "csv")
              graft.ingest.CsvIngest.ingest(spark, registry, project, normalized,
                f.toString)
            else
              graft.ingest.AvroIngest.ingest(spark, registry, project, normalized,
                f.toString)
          } catch {
            case e: IllegalArgumentException =>
              throw new IngestRejected(String.valueOf(e.getMessage))
          }
        val n = writeLock.synchronized {
          enrichAndStore(Seq(normalized -> df), runMappers = true,
            cfCountry = cfCountry(req.ex))
        }
        (200, s"""{"stored":$n}""")
      } finally graft.TempDirs.release(dir)
    } else {
      val env = BatchSources.parseEnvelope(req.text, enforceBodyCap = false)
      val n = ingestAndStore(resolveSentinels(env.events, req.ex),
        cfCountry = cfCountry(req.ex))
      (200, s"""{"stored":$n}""")
    }
  }

  /** The reference's boolean "read it from the request" sentinels,
    * resolved before ingest so typing never sees a boolean in a STRING
    * field: `_user_agent: true` → the User-Agent header
    * (UserAgentEventMapper.java:70-77), `_referrer: true` → the Referer
    * header (ReferrerEventMapper.java:48-56), `_ip: true` → the first
    * public X-Forwarded-For hop, else the socket address
    * (MaxmindGeoIPEventMapper.java:177-188). A `true` with no header to
    * read (and any `false`) just removes the field — the mapper then
    * skips the event exactly as the reference's null branch does.
    * Malformed lines pass through untouched; the ingest dead-letter
    * path owns them. */
  private def resolveSentinels(lines: Seq[String], ex: HttpExchange): Seq[String] = {
    def header(name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name)).filter(_.nonEmpty)
    lazy val clientIp: Option[String] = {
      // v4-only hop scan BY PARITY with the reference's
      // findNonPrivateIpAddress regex (F16 note, Mappers.scala): a v6
      // hop is skipped there too and the socket address wins. The
      // boundary guards stop `1234.5.6.7` from yielding `234.5.6.7`
      // (driver-side java.util.regex, so lookarounds are fine here)
      val xff = header("X-Forwarded-For").flatMap { h =>
        val m = java.util.regex.Pattern
          .compile("(?<![0-9.])[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}(?![0-9.])")
          .matcher(h)
        val priv = java.util.regex.Pattern
          .compile(graft.enrich.Mappers.PrivateIpRegex)
        var found: Option[String] = None
        while (found.isEmpty && m.find())
          if (!priv.matcher(m.group()).find()) found = Some(m.group())
        found
      }
      xff.orElse(Option(ex.getRemoteAddress)
        .flatMap(a => Option(a.getAddress)).map(_.getHostAddress))
    }
    val subs: Seq[(String, () => Option[String])] = Seq(
      "_user_agent" -> (() => header("User-Agent")),
      "_referrer" -> (() => header("Referer")),
      "_ip" -> (() => clientIp))
    // anonymous identity (UserIdEventMapper.java:50-72): an event with
    // no `_user` takes the `_anonymous_user` COOKIE when the client
    // carries one, else one fresh id per request — and the id rides a
    // Set-Cookie back, so the same anonymous visitor keeps the same
    // `_user` across requests (the content-hash surrogate in the
    // mapper stays the deterministic fallback for cookieless paths)
    lazy val anonId: String = {
      val fromCookie = header("Cookie").flatMap(_.split(";").iterator
        .map(_.trim).collectFirst {
          case c if c.startsWith("_anonymous_user=") =>
            c.substring("_anonymous_user=".length)
        }.filter(_.nonEmpty))
      fromCookie.getOrElse(java.util.UUID.randomUUID().toString)
    }
    var anonUsed = false
    val out = lines.map { l =>
      try {
        val node = mapper.readTree(l)
        Option(node.get("properties")).filter(_.isObject).map { props =>
          val o = props.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          var changed = false
          subs.foreach { case (field, value) =>
            val v = o.get(field)
            if (v != null && v.isBoolean) {
              changed = true
              if (v.asBoolean()) value() match {
                case Some(s) => o.put(field, s); ()
                case None => o.remove(field); ()
              }
              else { o.remove(field); () }
            }
          }
          def missing(f: String) = { val v = o.get(f); v == null || v.isNull }
          if (missing("_user") && missing("_anonymous_user")) {
            o.put("_anonymous_user", anonId)
            anonUsed = true
            changed = true
          }
          if (changed) mapper.writeValueAsString(node) else l
        }.getOrElse(l)
      } catch { case scala.util.control.NonFatal(_) => l }
    }
    if (anonUsed)
      ex.getResponseHeaders.add("Set-Cookie", s"_anonymous_user=$anonId; Path=/")
    out
  }

  /** A request of at most this many raw event lines is small: it
    * ingests and enriches as a local relation on the driver
    * ([[ingestLines]]). Above it, ingest runs as Spark jobs over one
    * partition. The size picks only the ingest leaf: the mappers and
    * the write are the same for both. */
  private val SmallRequestLines = 64

  /** The built-in enrichment stage every mapped ingest runs — the
    * reference registers these module mappers on the collect path
    * (EventCollectionHttpService.java:123-151): M1 timestamp skew, M5
    * user-id, XFF → `_ip`, M4 geo (when the gateway was built with a
    * dim), M2 user-agent, M3 referrer. Produced fields evolve the
    * registry first (registry-rejected fields are dropped from the
    * output, the custom-mapper discipline); the source-only trigger
    * fields themselves are dropped later by EventStore.write. */
  private def applyBuiltins(coll: String, df: DataFrame,
      cfCountry: Option[String]): DataFrame = {
    val geo = geoRanges.map(r4 =>
      graft.enrich.GeoIpMapper(r4, geoRangesV6)).toSeq
    val mappers: Seq[graft.enrich.EventMapper] =
      Seq(graft.enrich.TimestampMapper(now()),
        graft.enrich.UserIdMapper,
        graft.enrich.XffIpMapper) ++ geo ++
      Seq(graft.enrich.UserAgentMapper,
        graft.enrich.ReferrerMapper(internalHosts))
    mappers.foldLeft(df) { (d, m) =>
      val produced = m.constantFields ++ m.dependentFields.collect {
        case (trigger, fs) if d.columns.contains(trigger) => fs
      }.flatten
      // the registry's dependent expansion pre-creates the geo columns
      // as nulls at ingest; the join-based geo mapper ADDS its columns
      // (unlike the withColumn mappers, which replace in place), so
      // stale placeholders must go first — overwrite-on-enrich is the
      // reference's geo semantics too (MaxmindGeoIPEventMapper `put`s
      // unconditionally)
      val input = m match {
        case _: graft.enrich.GeoIpMapper =>
          d.drop(produced.map(_._1).filter(d.columns.contains): _*)
        case _ => d
      }
      val out0 = m.apply(input)
      // the reference's Cloudflare fallback
      // (MaxmindGeoIPEventMapper.java:190-196): events the geo walk
      // resolves nothing for — no `_ip` at all, or no range hit —
      // still get the CF-provided country; coalescing after the join
      // (or adding the column when the mapper was a no-op) is the
      // set-based equivalent of its null-ip branch
      val (out, cfAdded) = m match {
        case _: graft.enrich.GeoIpMapper if cfCountry.isDefined =>
          import org.apache.spark.sql.functions.{coalesce, col, lit, when}
          // strictly the reference's branch: CF only when `_ip` is
          // ABSENT (its else-of-string/true case) — an unparseable or
          // database-missing ip stores null, never the relayer's
          // CF country (MaxmindGeoIPEventMapper.java:170-199)
          if (out0.columns.contains("_country_code"))
            (out0.withColumn("_country_code",
              when(col("_ip").isNull,
                coalesce(col("_country_code"), lit(cfCountry.get)))
                .otherwise(col("_country_code"))), false)
          else
            (out0.withColumn("_country_code", lit(cfCountry.get)), true)
        case _ => (out0, false)
      }
      val register = produced ++
        (if (cfAdded) Seq("_country_code" -> graft.core.FieldType.STRING) else Nil)
      if (register.isEmpty) out
      else {
        val (_, rejected) = registry.getOrCreate(project, coll,
          register.map { case (n, t) => registry.Field(n, t) })
        out.drop(rejected.map(_.field): _*)
      }
    }
  }

  /** `POST /event/copy` — the reference's "copy events directly to
    * database" door (EventCollectionHttpService.java:459-463:
    * `bulkEvents(request, mapEvents = false)`): the bulk envelope, no
    * body cap, and NO mapper stage — stored custom event mappers are
    * skipped, the rows land exactly as sent (a replication/backfill
    * path must not re-run enrichment). */
  private def handleCopy(req: Req): (Int, String) = {
    val env = BatchSources.parseEnvelope(req.text, enforceBodyCap = false)
    val n = ingestAndStore(env.events, runMappers = false)
    (200, s"""{"stored":$n}""")
  }

  /** The classic 1×1 transparent GIF the pixel door answers with. */
  private val Gif1x1 = java.util.Base64.getDecoder
    .decode("R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAICRAEAOw==")

  /** `GET|POST /event/pixel?collection=…&prop.x=…` — the tracking-pixel
    * door (EventCollectionHttpService.java:273-350, S5): query params
    * through [[BatchSources.pixelToEventJson]] into the standard ingest
    * path. The response is ALWAYS the image — a broken event must never
    * break the embedding page — with failures reported in a
    * `server-error` header exactly as the reference does. When api-key
    * pairs exist the pixel is a write door keyed by the `api.api_key`
    * query param. */
  private def handlePixel(req: Req): (Int, String) = {
    val ex = req.ex
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    try {
      if (!authorized(WriteRole, req))
        ex.getResponseHeaders.set("server-error", "api key is invalid")
      else BatchSources.pixelToEventJson(query) match {
        case None =>
          ex.getResponseHeaders.set("server-error", "collection query parameter is required")
        case Some(line) =>
          if (ingestAndStore(Seq(line), cfCountry = cfCountry(ex)) == 0)
            ex.getResponseHeaders.set("server-error", "event was not stored")
      }
    } catch {
      case e: IngestRejected =>
        ex.getResponseHeaders.set("server-error", e.getMessage)
      case NonFatal(e) =>
        logServerError(ex, e)
        ex.getResponseHeaders.set("server-error", "An error occurred")
    }
    ex.getResponseHeaders.set("Content-Type", "image/gif")
    ex.sendResponseHeaders(200, Gif1x1.length.toLong)
    val out = ex.getResponseBody
    try out.write(Gif1x1) finally out.close()
    Answered
  }

  /** URL-addressed bulk import (S6): body
    * `{"collection": …, "urls": […], "type": "JSON|CSV|AVRO"}` routed
    * through [[BatchSources.remoteBulk]] to the matching reader, then
    * stored; dead letters go to `$invalid_schema` as at every ingest
    * door, and the reader's cache is released. The reference's guards
    * (one url, no compression) come from the engine. */
  private def handleBulkRemote(req: Req): (Int, String) = {
    val b = req.body
    val collection = b.need("collection")
    val urls = b.strings("urls").getOrElse(Fields.missing("urls array"))
    val tpe = BatchSources.CopyType.of(b.scalar("type").getOrElse(""))
    val remote = BatchSources.BulkEventRemote(collection, urls, tpe,
      b.scalar("compression"))
    val n = writeLock.synchronized {
      val res = BatchSources.remoteBulk(spark, registry, project, remote)
      try {
        val df = res.byCollection(collection)
        val rows = df.count()
        EventStore.write(df, warehouse, project, collection)
        if (!res.deadLetter.isEmpty)
          EventStore.writeDeadLetter(res.deadLetter.coalesce(1), warehouse, project)
        rows
      } finally res.unpersist()
    }
    (200, s"""{"stored":$n}""")
  }

  private def handleSchema(req: Req): (Int, String) = {
    val collection = req.query.need("collection")
    registry.schema(project, collection) match {
      case None => (404, """{"error":"collection not found"}""")
      case Some(fields) =>
        val cols = fields.map(f =>
          s"""{"name":${mapper.writeValueAsString(f.name)},"type":${
            mapper.writeValueAsString(f.tpe.name)}}""")
        (200, cols.mkString("[", ",", "]"))
    }
  }

  /** `POST /project/schema/add` — the master-key schema-evolution door
    * (ProjectHttpService.java:110-121): body `{"collection":…,
    * "fields":[{"name":…, "type":…}…]}`. Field names are normalized by
    * the ingest rules; returns the resulting full schema plus any
    * registry rejections (type conflicts, reserved names, column cap). */
  private def handleSchemaAdd(req: Req): (Int, String) = {
    val b = req.body
    val collection = b.need("collection")
    val fields = b.array("fields").getOrElse(Fields.missing("fields array"))
      .map { f =>
        val raw = f.scalar("name").getOrElse(Fields.missing("field name"))
        val n = graft.core.Names.normalizeField(raw).fold(
          err => throw new IngestRejected(s"field '$raw': $err"), identity)
        val t = f.scalar("type").getOrElse(Fields.missing(s"field '$raw': type"))
        registry.Field(n,
          try graft.core.FieldType.fromName(t)
          catch { case _: Exception =>
            throw new IngestRejected(s"field '$raw': unknown type '$t'")
          })
      }
    schemaAddResponse(collection, fields)
  }

  private def schemaAddResponse(collection: String,
      fields: Seq[registry.Field]): (Int, String) = {
    val (schema, rejected) = registry.getOrCreate(project, collection, fields)
    val node = mapper.createObjectNode()
    val sn = node.putArray("schema")
    schema.foreach { f =>
      val o = sn.addObject(); o.put("name", f.name); o.put("type", f.tpe.name)
    }
    val rn = node.putArray("rejected")
    rejected.foreach { r =>
      val o = rn.addObject(); o.put("field", r.field); o.put("reason", r.reason)
    }
    (200, mapper.writeValueAsString(node))
  }

  /** `POST /project/schema/add/custom` — evolve a collection from an
    * EXTERNAL schema document (ProjectHttpService.java:125-133 +
    * SchemaConverter.java: `schema_type` selects the converter, AVRO is
    * the reference's one supported type): body `{"collection":…,
    * "schema_type":"AVRO", "schema":"{avro record json}"}`. Field
    * schemas may be the `[null, T]` union (nullable-by-default ingest
    * semantics); any other union is the reference's 400. Names
    * normalize and types map through the same registry door as
    * `/schema/add`. */
  private def handleSchemaAddCustom(req: Req): (Int, String) = {
    val b = req.body
    val collection = b.need("collection")
    val schemaType = b.needScalar("schema_type")
    if (!schemaType.equalsIgnoreCase("AVRO"))
      throw new IngestRejected(s"unsupported schema_type '$schemaType'")
    val schemaStr = b.needScalar("schema", nonEmpty = true)
    import org.apache.avro.Schema
    val parsed =
      try new Schema.Parser().parse(schemaStr)
      catch { case NonFatal(e) =>
        throw new IngestRejected(s"invalid Avro schema: ${e.getMessage}")
      }
    if (parsed.getType != Schema.Type.RECORD)
      throw new IngestRejected("Avro schema must be a RECORD")
    def toFieldType(s: Schema): graft.core.FieldType = s.getType match {
      case Schema.Type.STRING | Schema.Type.ENUM => graft.core.FieldType.STRING
      case Schema.Type.INT => graft.core.FieldType.INTEGER
      case Schema.Type.LONG => graft.core.FieldType.LONG
      case Schema.Type.FLOAT | Schema.Type.DOUBLE => graft.core.FieldType.DOUBLE
      case Schema.Type.BOOLEAN => graft.core.FieldType.BOOLEAN
      case Schema.Type.BYTES | Schema.Type.FIXED => graft.core.FieldType.BINARY
      case Schema.Type.ARRAY => toFieldType(s.getElementType) match {
        case sc: graft.core.FieldType.Scalar => graft.core.FieldType.ARRAY(sc)
        case _ => throw new IngestRejected(s"nested ARRAY is not supported: $s")
      }
      case Schema.Type.MAP => toFieldType(s.getValueType) match {
        case sc: graft.core.FieldType.Scalar => graft.core.FieldType.MAP(sc)
        case _ => throw new IngestRejected(s"nested MAP is not supported: $s")
      }
      case _ => throw new IngestRejected(s"Unsupported Avro type: $s")
    }
    val fields = parsed.getFields.asScala.toSeq.map { f =>
      var s = f.schema()
      if (s.getType == Schema.Type.UNION) {
        val nonNull = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
        if (nonNull.size != 1)
          throw new IngestRejected(s"UNION type is not supported: ${f.schema()}")
        s = nonNull.head
      }
      val n = graft.core.Names.normalizeField(f.name()).fold(
        err => throw new IngestRejected(s"field '${f.name()}': $err"), identity)
      registry.Field(n, toFieldType(s))
    }
    schemaAddResponse(collection, fields)
  }

  private def handleCollections(req: Req): (Int, String) =
    (200, registry.collections(project)
      .map(mapper.writeValueAsString).mkString("[", ",", "]"))

  /** The reference's ad-hoc query door
    * (rakam/src/main/java/org/rakam/analysis/QueryHttpService.java
    * `/query/execute`): body `{"query": "...", "limit"?: n}`. Every
    * stored collection mounts as a temp view under its own name, then
    * the statement runs through the full engine — Catalyst, the graft
    * extensions (native expressions + the interval-join rule), AQE.
    * Results cap at `limit` (default 1000, the reference's page size
    * discipline) and stream back as a JSON array. Analysis errors are
    * the client's 400, not a 500.
    *
    * `"pins": {"<collection>": <version>, …}` mounts those collections
    * AT the given commit-log versions ([[EventStore.readAt]]) — ad-hoc
    * SQL over a pinned corpus, completing the reproducible-run story:
    * record `/admin/pin`'s manifest with a training run, and any later
    * investigation queries the exact corpus the run saw.
    *
    * The merged profile dimension mounts as `_users` (id, properties
    * map — the reference's users table), pinnable at an ops-log commit
    * version via the `__user_ops` pins key `/admin/pin` records: both
    * sides of an event↔profile join replay from one pin manifest. */
  private def handleQuery(req: Req): (Int, String) = {
    val b = req.body
    val sql = b.needScalar("query", nonEmpty = true)
    val limit = b.count("limit", 1000, 1, 1000, clamp = true)
    val pins: Map[String, Long] = b.obj("pins")
      .map(_.node.properties().asScala.map { e =>
        e.getKey -> Fields.integral(e.getValue).getOrElse(Fields.reject(
          s"pin for '${e.getKey}' must be an integer version"))
      }.toMap).getOrElse(Map.empty)
    pins.keys.foreach { c =>
      if (c != OpsLogName && !registry.collections(project).contains(c))
        throw new IngestRejected(s"unknown collection '$c' in pins")
    }
    // Temp views are SESSION-global and the server runs 8 request
    // threads: without a lock, request B's head-version views can
    // replace request A's PINNED views between A's mount and A's
    // spark.sql — A would silently query the wrong corpus. The lock
    // spans mount→analysis only: Dataset creation asserts the plan
    // analyzed (view lookups resolve inside spark.sql), so execution
    // (limit/collect) safely runs outside it, concurrently.
    val df = queryViewLock.synchronized {
      registry.collections(project).foreach { c =>
        val frame = pins.get(c) match {
          case Some(v) =>
            try EventStore.readAt(spark, registry, warehouse, project, c, v)
            catch { case e: IllegalArgumentException =>
              throw new IngestRejected(String.valueOf(e.getMessage))
            }
          case None => storedOrEmpty(c)
        }
        frame.createOrReplaceTempView(c)
      }
      // the profile dimension mounts as `_users` (the reference's users
      // table): the merged fold of the ops log, pinnable via the
      // `__user_ops` key `/admin/pin` records — so the event AND profile
      // sides of a j4-style join both replay from one pin manifest
      val ops =
        try readOps(pins.get(OpsLogName))
        catch { case e: IllegalArgumentException =>
          throw new IngestRejected(String.valueOf(e.getMessage))
        }
      ProfileMerge.merge(ops).createOrReplaceTempView(UsersView)
      try spark.sql(sql)
      catch {
        // ParseException IS an AnalysisException in Spark 4 — match it
        // first or its arm is unreachable
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IngestRejected(e.getMessage)
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IngestRejected(e.getSimpleMessage)
      }
    }
    (200, df.limit(limit).toJSON.collect().mkString("[", ",", "]"))
  }

  private val queryViewLock = new Object

  private def handleUserBatch(req: Req): (Int, String) = {
    val users = req.body.elements.getOrElse(Fields.reject("Body must be an array"))
    val now = System.currentTimeMillis()
    val ops = users.flatMap { op =>
      val id = op.needScalar("id")
      val ts = op.long("time").getOrElse(now)
      def props(field: String) = op.stringMap(field).getOrElse(Map.empty)
      def one(kind: String, ps: Map[String, String]): Option[ProfileOp] =
        if (ps.isEmpty) None
        else Some(ProfileOp(project, id, ts, opSeq.getAndIncrement(), kind,
          ProfileOps.normalizeProps(ps)))
      val unsets = op.strings("unset_properties").getOrElse(Nil).map(_ -> "").toMap
      Seq(
        one(ProfileOps.Set, props("set_properties")),
        one(ProfileOps.SetOnce, props("set_once_properties")),
        one(ProfileOps.Increment, props("increment_properties")),
        one(ProfileOps.Unset, unsets)).flatten
    }
    appendOps(ops)
    (200, "1")
  }

  /** `POST /user/batch` — bulk user creation (UserHttpService.java:82:
    * an array of `{id, properties:{…}}` User objects). Each becomes one
    * Set op in the shared log: creating a user IS setting its first
    * properties under the fold. */
  private def handleUserCreateBatch(req: Req): (Int, String) = {
    val users = req.body.elements.getOrElse(Fields.reject("Body must be an array"))
    val now = System.currentTimeMillis()
    val ops = users.map { u =>
      val id = u.needScalar("id")
      val ts = u.long("time").getOrElse(now)
      val props = u.stringMap("properties").getOrElse(Fields.missing("properties object"))
      ProfileOp(project, id, ts, opSeq.getAndIncrement(), ProfileOps.Set,
        ProfileOps.normalizeProps(props))
    }
    appendOps(ops)
    (200, "1")
  }

  /** The reference's single-op doors (UserHttpService
    * `/user/set_properties`, `/user/set_properties_once`,
    * `/user/increment_property`, `/user/unset_properties`) — each is
    * one op appended to the same log the batch door feeds. */
  private def handleUserOp(kind: String)(req: Req): (Int, String) = {
    val b = req.body
    val id = b.need("id")
    val ts = b.long("time").getOrElse(System.currentTimeMillis())
    val props = b.stringMap("properties").getOrElse(Fields.missing("properties object"))
    appendOps(Seq(ProfileOp(project, id, ts, opSeq.getAndIncrement(), kind,
      ProfileOps.normalizeProps(props))))
    (200, "1")
  }

  private def handleIncrement(req: Req): (Int, String) = {
    val b = req.body
    val id = b.need("id")
    val property = b.needScalar("property")
    val value = b.scalar("value").getOrElse("1")
    val ts = b.long("time").getOrElse(System.currentTimeMillis())
    appendOps(Seq(ProfileOp(project, id, ts, opSeq.getAndIncrement(),
      ProfileOps.Increment,
      ProfileOps.normalizeProps(Map(property -> value)))))
    (200, "1")
  }

  private def handleUnset(req: Req): (Int, String) = {
    val b = req.body
    val id = b.need("id")
    val names = b.strings("properties").getOrElse(Fields.missing("properties array"))
    val ts = b.long("time").getOrElse(System.currentTimeMillis())
    appendOps(Seq(ProfileOp(project, id, ts, opSeq.getAndIncrement(),
      ProfileOps.Unset,
      ProfileOps.normalizeProps(names.map(_ -> "").toMap))))
    (200, "1")
  }

  private def appendOps(ops: Seq[ProfileOp]): Unit =
    if (ops.nonEmpty) writeLock.synchronized {
      import spark.implicits._
      // manifest-committed like every event table (r17): batch
      // atomicity, snapshot-isolated readers, pins/time travel.
      // Partitioned by the id-hash bucket so point lookups prune to
      // 1/64 of the log and an erasure rewrites one bucket.
      EventStore.appendPartitioned(
        ops.toDS().toDF().withColumn(EventStore.OpsBucketCol,
          EventStore.opsBucket(col("id"))),
        opsDir, Seq(EventStore.OpsBucketCol))
    }

  /** `GET /user/get?id=…[&version=v][&as_of=ms]` — `version` pins the
    * ops log at a commit-log version (the profile half of a
    * reproducible run's pin pair, same contract as the analysis doors'
    * `version` param); `as_of` is the LOGICAL cut: the profile as it
    * stood at that epoch-ms event time ([[ProfileMerge.snapshotAsOf]] —
    * the op-log's point-in-time payoff: "what did the segmentation see
    * last Tuesday", GDPR evidence, backtests). They compose — pin the
    * physical log, cut at a time inside it. */
  private def handleUserGet(req: Req): (Int, String) = {
    val q = req.query
    val id = q.need("id")
    val version = q.version
    val asOf = q.long("as_of")
    val ops =
      try readOps(version)
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(String.valueOf(e.getMessage))
      }
    // filter BEFORE the merge, and by BUCKET first: the foldable
    // bucket predicate partition-prunes the scan to 1/64 of the log's
    // files (the id predicate then pushes into those files' row
    // groups) — one GET reads one bucket, never the whole log. A
    // pre-bucketed log (no _bucket column) falls back to the id
    // filter alone.
    val mine = {
      val base =
        if (ops.columns.contains(EventStore.OpsBucketCol))
          ops.filter(col(EventStore.OpsBucketCol) ===
            EventStore.opsBucket(lit(id)))
        else ops
      base.filter(col("id") === id)
    }
    val merged = asOf match {
      case Some(ts) => ProfileMerge.snapshotAsOf(mine, ts)
      case None => ProfileMerge.merge(mine)
    }
    val rows = merged.toJSON.collect()
    if (rows.isEmpty) (404, """{"error":"user not found"}""")
    else (200, rows.head)
  }

  /** `GET /user/metadata` — the user-storage schema door
    * (UserHttpService.java:73-77: `MetadataResponse(identifierColumn,
    * columns)`). The fold stores string-typed properties keyed by `id`
    * (reserved, `id`-in-props renamed `_id` — U8), so the columns are
    * the distinct property names across the op log; the scan reads only
    * the map keys column. */
  private def handleUserMetadata(req: Req): (Int, String) = {
    // `version` pins the column listing at an ops-log commit version,
    // completing the door's parity with /user/get (r17)
    val version = req.query.version
    val ops =
      try readOps(version)
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(String.valueOf(e.getMessage))
      }
    val cols: Seq[String] = ops
      .select(explode(map_keys(col("props"))).as("name"))
      .distinct().orderBy(col("name"))
      .collect().map(_.getString(0)).toIndexedSeq
    val node = mapper.createObjectNode()
    node.put("identifierColumn", "id")
    val cn = node.putArray("columns")
    cols.foreach { c =>
      val o = cn.addObject(); o.put("name", c); o.put("type", "STRING")
    }
    (200, mapper.writeValueAsString(node))
  }

  /** `GET /analysis/statistics[?collection=…]` — the event-explorer
    * overview (upstream `EventExplorerHttpService.getEventStatistics`):
    * event counts per (collection, month). The month IS the store's
    * partition column, so each per-collection aggregate reads partition
    * metadata plus one column, never event payloads. */
  private def handleStatistics(req: Req): (Int, String) = {
    val q = req.query
    val only = q.text("collection")
    // a commit-log version is a per-collection pin — meaningless across
    // the whole project listing
    if (q.get("version").isDefined && only.isEmpty)
      throw new IngestRejected("version requires collection")
    val colls = only.map(Seq(_)).getOrElse(registry.collections(project).sorted)
    only.foreach { c =>
      if (registry.schema(project, c).isEmpty)
        throw new IngestRejected(s"unknown collection '$c'")
    }
    val frames = colls.map { c =>
      (if (q.get("version").isDefined) storedMaybeAt(q.version, c)
       else storedOrEmpty(c))
        .groupBy(col("_month").as("month"))
        .agg(count(lit(1)).as("events"))
        .select(lit(c).as("collection"), col("month"), col("events"))
    }
    if (frames.isEmpty) return (200, "[]")
    val all = frames.reduce(_.unionByName(_))
      .orderBy(col("collection"), col("month"))
    (200, all.toJSON.collect().mkString("[", ",", "]"))
  }

  /** A collection read at the optional `version` pin — the time-travel
    * contract EVERY analysis door serves (r15 opened it on
    * segmentation only; reproducible reads are the flagship
    * training-pipeline story and must cover the whole read surface):
    * present → [[EventStore.readAt]] resolves that commit-log version's
    * exact file set; absent → the current head. Bad, beyond-head and
    * vacuumed-away versions are caller errors (400), matching the
    * segmentation door's established contract. */
  private def storedMaybeAt(version: Option[Long],
      collection: String): DataFrame = version match {
    case Some(ver) =>
      try EventStore.readAt(spark, registry, warehouse, project, collection, ver)
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(String.valueOf(e.getMessage))
      }
    case None =>
      EventStore.read(spark, registry, warehouse, project, collection)
  }

  /** `GET /analysis/segmentation?collection=…&dimension=…[&limit=n]
    * [&version=v]` — users/events per dimension value. The driver-side
    * JSON is bounded by `limit` (default 1000, the `/query/execute`
    * door's ceiling): without it a caller segmenting on a user-id-like
    * column would pull that column's full cardinality into one driver
    * collect. Top groups by event count — the ordering a segmentation
    * UI shows. `version` serves the analysis over a pinned commit-log
    * version ([[EventStore.readAt]] time travel — reproduce last
    * week's report numbers exactly, whatever has landed since). */
  private def handleSegmentation(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    val dimension = q.need("dimension")
    // bound BOTH ends: limit<1 reaches DataFrame.limit as an
    // AnalysisException (a 500 where siblings 400), and an unbounded
    // high value defeats the documented 1000-row flood ceiling
    val limit = q.count("limit", 1000, 1, 1000, clamp = true)
    val stored = storedMaybeAt(q.version, collection)
    if (!stored.columns.contains(dimension))
      throw new IngestRejected(s"unknown dimension '$dimension'")
    // not Analytics.segmentation: this door has no time bucket, and its
    // `users`/`events` response fields are API
    val seg = stored.groupBy(col(dimension))
      .agg(countDistinct(col("_user")).as("users"),
        count(lit(1)).as("events"))
      .orderBy(col("events").desc, col(dimension))
      .limit(limit)
    (200, seg.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `GET /analysis/funnel?collection=…&steps=a,b,c[&version=v]` —
    * users reaching each ordered step (the reference's
    * FunnelQueryExecutor read, served by [[Analytics.funnel]]);
    * `version` pins the read ([[storedMaybeAt]]). */
  private def handleFunnel(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    val steps = q.need("steps").split(',').toSeq
    val typeCol = q.text("type_column").getOrElse("event_type")
    val stored = storedMaybeAt(q.version, collection)
    if (!stored.columns.contains(typeCol))
      throw new IngestRejected(s"unknown type column '$typeCol'")
    val out = Analytics.funnel(stored, "_user", "_time", typeCol, steps)
    (200, out.orderBy(col("step")).toJSON.collect().mkString("[", ",", "]"))
  }

  /** `GET /analysis/retention?collection=…&grain=day|week` — first-seen
    * cohort matrix ([[Analytics.retention]], the reference's
    * RetentionQueryExecutor read). */
  private def handleRetention(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    val grain = q.text("grain").getOrElse("week")
    if (grain != "week" && grain != "day")
      throw new IngestRejected(s"grain must be day or week: '$grain'")
    val stored = storedMaybeAt(q.version, collection)
    val out = Analytics.retention(stored, "_user", "_time", grain)
    (200, out.orderBy(col("cohort_bucket"), col("offset"))
      .toJSON.collect().mkString("[", ",", "]"))
  }

  /** `GET /analysis/paths?collection=…[&type_column=…]` — the
    * next-event transition matrix over stored events (the a14 shape
    * via [[Analytics.eventPaths]]). */
  private def handlePaths(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    val typeCol = q.text("type_column").getOrElse("event_type")
    val stored = withSeq(storedMaybeAt(q.version, collection))
    if (!stored.columns.contains(typeCol))
      throw new IngestRejected(s"unknown type column '$typeCol'")
    val out = Analytics.eventPaths(stored, "_user", "_time", "__seq", typeCol)
    (200, out.orderBy(col("from_type"), col("to_type"))
      .toJSON.collect().mkString("[", ",", "]"))
  }

  /** Stored events carry no unique id, but the path/attribution
    * operators need a deterministic ORDER tiebreak for same-timestamp
    * events — a content hash is stable across runs and placements
    * (`monotonically_increasing_id` is neither). MAP-typed properties
    * are excluded from the hash: Spark's hash functions reject map
    * inputs outright, and a collection with one MAP_* column would
    * otherwise 500 on an analysis read that never touches it. */
  private def withSeq(stored: DataFrame): DataFrame = {
    val hashable = stored.schema.fields
      .filter(!_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(_.name).sorted
    stored.withColumn("__seq", xxhash64(hashable.map(col): _*))
  }

  /** `GET /analysis/attribution?collection=…&conversion=…&model=
    * last_touch|markov[&value_column=…]` — conversion attribution over
    * stored events: positional last-touch (a15) or data-driven Markov
    * removal effects (a22). */
  private def handleAttribution(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    val conversion = q.need("conversion")
    val typeCol = q.text("type_column").getOrElse("event_type")
    val stored = withSeq(storedMaybeAt(q.version, collection))
    if (!stored.columns.contains(typeCol))
      throw new IngestRejected(s"unknown type column '$typeCol'")
    q.text("model").getOrElse("last_touch") match {
      case "markov" =>
        // a22 rejects reserved virtual-state names loudly — surface
        // that as the client's 400, not a 500
        val out = try Analytics.markovAttribution(stored, "_user", "_time",
          "__seq", typeCol, conversion)
        catch { case e: IllegalArgumentException =>
          throw new IngestRejected(e.getMessage)
        }
        (200, out.orderBy(col("channel"))
          .toJSON.collect().mkString("[", ",", "]"))
      case "last_touch" =>
        val valueCol = q.text("value_column").getOrElse("value")
        if (!stored.columns.contains(valueCol))
          throw new IngestRejected(s"unknown value column '$valueCol'")
        val out = Analytics.lastTouchAttribution(stored, "_user", "_time",
          "__seq", typeCol, valueCol, conversion)
        (200, out.orderBy(col("touch_type"))
          .toJSON.collect().mkString("[", ",", "]"))
      case m =>
        throw new IngestRejected(s"model must be last_touch or markov: '$m'")
    }
  }

  /** Right-to-be-forgotten: physically remove one user's events from
    * every collection ([[EventStore.deleteUser]] surveys partitions
    * and rewrites only the touched ones) and drop their ops from the
    * profile log ([[graft.store.EventStore.eraseRows]] — a manifest
    * rewrite commit over a log that is |ops|, not |events|). Returns
    * partitions rewritten and event rows deleted. */
  private def handleUserDelete(req: Req): (Int, String) = {
    val id = req.body.need("id")
    writeLock.synchronized {
      var parts = 0
      var rows = 0L
      registry.collections(project).foreach { c =>
        val (p, r) = EventStore.deleteUser(spark, warehouse, project, c,
          "_user", id)
        parts += p; rows += r
      }
      // ops-log erasure is a manifest rewrite commit (note=erasure)
      // with immediate physical deletion — crash-safe without any
      // recovery dance (the committed state is pre- or post-rewrite,
      // never half-swapped), serialized ACROSS JVMs by the table's
      // rewrite lock, staged in a per-attempt unique tmp
      EventStore.eraseRows(spark, opsDir, "id", id): Unit
      // incremental folds can only ADD: re-materialize every view so
      // the deleted user leaves aggregates and sketches too
      storedMvDefs().foreach(rebuildMv)
      (200, s"""{"partitions_rewritten":$parts,"rows_deleted":$rows}""")
    }
  }

  /** Store maintenance: rewrite one month partition's accumulated
    * small files (every collect appends at least one) into
    * `ceil(rows/rows_per_file)` files. */
  private def handleCompact(req: Req): (Int, String) = {
    val b = req.body
    val collection = b.need("collection")
    val month = b.needScalar("month")
    val rowsPerFile = b.long("rows_per_file").getOrElse(1_000_000L)
    // same registry gate as vacuum: compaction rewrites (and its lock
    // marker touches) the path derived from the collection name
    if (!registry.collections(project).contains(collection))
      throw new IngestRejected(s"unknown collection '$collection'")
    val files = writeLock.synchronized {
      try EventStore.compactPartition(spark, warehouse, project, collection,
        month, rowsPerFile)
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(e.getMessage)
      }
    }
    (200, s"""{"files":$files}""")
  }

  /** `GET /admin/versions?collection=…` — the table's commit-log head
    * and file count: the number a training run pins for
    * [[graft.store.EventStore.readAt]] time travel, and the ops view
    * of how much history vacuum retention is carrying. */
  private def handleVersions(req: Req): (Int, String) = {
    val collection = req.query.need("collection")
    // registry gate BEFORE touching the filesystem: an unregistered name
    // must 404, never probe an attacker-chosen path's manifest state
    // (`collection=../../x`), and the response is Jackson-built so a
    // quote/backslash in the param can't yield invalid JSON. The profile
    // ops log is the one non-registry table in the commit-log story.
    if (collection != OpsLogName &&
        !registry.collections(project).contains(collection))
      return (404, mapper.writeValueAsString {
        val n = mapper.createObjectNode()
        n.put("error", s"unknown collection '$collection'")
      })
    EventStore.currentVersion(warehouse, project, collection) match {
      case None => (404, """{"error":"no committed versions"}""")
      case Some(v) =>
        val files = graft.store.TableManifest
          .filesAt(EventStore.tablePath(warehouse, project, collection), v).size
        val node = mapper.createObjectNode()
        node.put("collection", collection)
        node.put("version", v)
        node.put("files", files)
        (200, mapper.writeValueAsString(node))
    }
  }

  /** `GET /admin/pin` — the RUN MANIFEST: every collection's current
    * commit-log head in one JSON object. A training run records this
    * once, and each entry replays byte-identically through the
    * `version` pins on the analysis doors, the TrainingSet corpus
    * readers, and `/query/execute`'s `pins` — whatever lands or
    * compacts afterwards. Collections with no committed versions
    * (declared, never stored) are omitted. */
  private def handlePin(req: Req): (Int, String) = {
    val node = mapper.createObjectNode()
    // the profile ops log first (sorts outside the collection
    // namespace): pinning it alongside the event tables makes an
    // event↔profile join fully replay-exact, not just its event side
    graft.store.TableManifest.latestVersion(opsDir)
      .foreach(v => node.put(OpsLogName, v))
    registry.collections(project).sorted.foreach { c =>
      EventStore.currentVersion(warehouse, project, c)
        .foreach(v => node.put(c, v))
    }
    (200, mapper.writeValueAsString(node))
  }

  /** `GET /admin/diff?collection=…&from=v1&to=v2[&limit=n]` — the
    * O(delta) corpus diff between two pins ([[EventStore
    * .readAddedBetween]]): rows appended in the window, read from only
    * the append commits' files, plus `"purely_additive"` — false when a
    * removal-carrying rewrite (erasure) landed in the window, the
    * governance signal that rows also LEFT the corpus since the
    * recorded run. */
  private def handleDiff(req: Req): (Int, String) = {
    val q = req.query
    val collection = q.need("collection")
    // `collection=__user_ops` diffs the profile ops log: the ops
    // APPENDED between two pins, `purely_additive=false` when an
    // erasure landed in the window — profile governance matching the
    // event tables'
    if (collection != OpsLogName &&
        !registry.collections(project).contains(collection))
      throw new IngestRejected(s"unknown collection '$collection'")
    def ver(k: String): Long = q.get(k).flatMap(Fields.integral)
      .getOrElse(Fields.reject(s"$k must be an integer version"))
    val limit = q.count("limit", 1000, 1, 1000, clamp = true)
    val (added, removals) =
      try EventStore.readAddedBetween(spark, registry, warehouse, project,
        collection, ver("from"), ver("to"))
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(String.valueOf(e.getMessage))
      }
    // one pass over the delta files for both the count and the capped
    // sample (two uncached actions would read every delta file twice)
    added.persist()
    try {
      val n = added.count()
      val rows = added.limit(limit).toJSON.collect().mkString("[", ",", "]")
      (200, s"""{"purely_additive":${!removals},"added_rows":$n,"added":$rows}""")
    } finally { added.unpersist(blocking = false); () }
  }

  /** `POST /admin/vacuum` — the physical half of maintenance: compaction
    * and erasure commit LOGICALLY through the table manifest (readers
    * pinned to older versions keep resolving the superseded files), and
    * this door reaps files no retained manifest references. Body
    * `{"collection": …, "retain_versions"?: n, "grace_ms"?: ms}`. */
  private def handleVacuum(req: Req): (Int, String) = {
    val b = req.body
    val collection = b.need("collection")
    val retain = b.int("retain_versions", min = 1).getOrElse(1)
    // a mistyped grace must not read as 0: that reaps, at once, files
    // pinned readers still resolve and a concurrent appender's staging
    val grace = b.long("grace_ms", min = 0).getOrElse(10 * 60 * 1000L)
    // vacuum DELETES files under tablePath(collection) — an unregistered
    // name (e.g. `../../x`) must never reach the filesystem
    if (!registry.collections(project).contains(collection))
      throw new IngestRejected(s"unknown collection '$collection'")
    val deleted = writeLock.synchronized {
      EventStore.vacuum(warehouse, project, collection, retain, grace)
    }
    (200, s"""{"deleted_files":$deleted}""")
  }

  // ---------------- subscriptions (ST1 over HTTP) ----------------

  private val subscriptions =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.streaming.StreamingQuery]()
  /** id → (spool advance, spool dir) — the manifest-tail handle each
    * poll advances and delete drops. */
  private val subTails =
    new java.util.concurrent.ConcurrentHashMap[String,
      (() => Long, java.io.File)]()

  private def subTable(id: String) = s"graft_sub_$id"

  /** Spools are namespaced per GATEWAY INSTANCE (r16 ADVICE): two
    * gateways sharing a warehouse can hold the same subscription id
    * without sharing one spool (one's delete must not rip the source
    * directory from under the other's live stream), and a crashed
    * session's orphan — possibly poisoned — can never be silently
    * reused by a fresh create (it ages out via
    * [[graft.store.ManifestTail.sweepStale]] instead). */
  private val spoolNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)
  private def spoolId(id: String) = s"${id}_$spoolNonce"

  /** `POST /subscription/create` — the reference's `EventStream`
    * (ST1): body `{"id": …, "collection": …, "filter"?: sqlPredicate,
    * "columns"?: […]}`. The collection's table directory becomes a
    * file-source stream (every collected batch's files are a
    * micro-batch), the filter/projection run through
    * [[Subscriptions.plan]], and results land in a named in-memory
    * sink. `POST /subscription/poll?id=…` is the `sync()` pull:
    * process all available input, serve the accumulated rows. One
    * collection per subscription on this surface; the sink holds the
    * subscription's lifetime of matched rows (a dashboard session),
    * so `delete` it when done. */
  private def handleSubCreate(req: Req): (Int, String) = {
    val b = req.body
    val id = b.need("id")
    if (!id.matches("[A-Za-z0-9_]+"))
      throw new IngestRejected("id must be alphanumeric")
    if (subscriptions.containsKey(id))
      throw new IngestRejected(s"subscription '$id' already exists")
    val collection = b.need("collection")
    val filter = b.scalar("filter")
    val columns = b.strings("columns").getOrElse(Nil)
    val fields = registry.sparkSchema(project, collection).getOrElse(
      throw new IngestRejected(s"unknown collection '$collection'"))
    val schema = org.apache.spark.sql.types.StructType(
      fields.fields :+ org.apache.spark.sql.types.StructField(
        "_month", org.apache.spark.sql.types.StringType))
    // manifest-aware tail (r16): the stream reads a spool of exactly the
    // files append commits added — compacting a month under this live
    // subscription re-delivers nothing (the old direct table tail fed
    // rewritten part files back in as fresh rows)
    val table = EventStore.tablePath(warehouse, project, collection)
    val (raw, advance) = graft.streaming.Subscriptions
      .manifestStream(spark, schema, table, spoolId(id))
    subTails.put(id,
      (advance, graft.store.ManifestTail.spoolDir(table, spoolId(id))))
    val stream = raw.withColumn("_collection", lit(collection))
    val sub = graft.streaming.StreamSubscription(id,
      Seq(graft.streaming.CollectionStreamQuery(collection, filter)), columns)
    try {
      val planned = graft.streaming.Subscriptions.plan(stream, sub)
        .drop("_collection", "_month")
      val q = planned.writeStream.format("memory").queryName(subTable(id))
        .outputMode("append").start()
      subscriptions.put(id, q)
    } catch {
      // failure must not leak the spool or its handle; a bad filter /
      // projection is the CLIENT's 400, anything else rethrows as 500
      case e: Throwable =>
        Option(subTails.remove(id)).foreach { case (_, spool) =>
          graft.store.ManifestTail.drop(spool)
        }
        e match {
          case _: org.apache.spark.sql.catalyst.parser.ParseException |
               _: org.apache.spark.sql.AnalysisException =>
            throw new IngestRejected(String.valueOf(e.getMessage))
          case _ => throw e
        }
    }
    (200, s"""{"id":"$id"}""")
  }

  /** `POST /subscription/poll?id=…[&prune_ms=w]` — the sync() pull.
    * `prune_ms` (opt-in) bounds the spool of a long-lived ACTIVE tail:
    * after the drain, links INSERTED more than `w` ms ago at versions
    * this very drain has processed are dropped
    * ([[graft.store.ManifestTail.prune]] — insertion-time aged and
    * version-fenced, so it can never delete an unprocessed row). */
  private def handleSubPoll(req: Req): (Int, String) = {
    val id = req.query.need("id")
    val pruneMs = req.query.long("prune_ms", min = 0)
    val q = Option(subscriptions.get(id)).getOrElse(
      return (404, """{"error":"subscription not found"}"""))
    // reflect new commits into the spool, then drain: the sync() pull.
    // A poisoned/lagging spool (erasure rewrote spooled files, or the
    // tail fell behind vacuum retention) is the CLIENT's signal to
    // recreate the subscription — a 4xx with the reason, never a 500
    val advanced =
      try Option(subTails.get(id)).map { case (advance, _) => advance() }
      catch { case e: IllegalStateException =>
        throw new IngestRejected(String.valueOf(e.getMessage))
      }
    q.processAllAvailable()
    // prune AFTER the drain: everything spooled at `advanced` or before
    // is through the sink now, so the version fence makes this safe
    for (w <- pruneMs; v <- advanced; (_, spool) <- Option(subTails.get(id)))
      graft.store.ManifestTail.prune(spool, w, upToVersion = v): Unit
    (200, spark.table(subTable(id)).toJSON.collect()
      .mkString("[", ",", "]"))
  }

  private def handleSubDelete(req: Req): (Int, String) = {
    val id = req.query.need("id")
    val q = Option(subscriptions.remove(id)).getOrElse(
      return (404, """{"error":"subscription not found"}"""))
    q.stop()
    Option(subTails.remove(id)).foreach { case (_, spool) =>
      graft.store.ManifestTail.drop(spool)
    }
    spark.catalog.dropTempView(subTable(id))
    (200, "1")
  }

  // ---------------- webhooks (S7 over HTTP) ----------------

  private def hooksDir = s"$warehouse/$project/__webhooks"

  /** One stored hook: `{"code":…, "parameters":{…}, "active":bool}`,
    * one marker file per identifier (the reference's JDBC `webhook`
    * table keyed (project, identifier), WebHookHttpService.java:140-151).
    * The reference compiles per request (its engine-cache key carries a
    * per-request UUID), so there is deliberately no compiled cache to
    * invalidate here either. */
  private def readHook(id: String): Option[(String, Map[String, String], Boolean)] =
    graft.store.VersionedState.readMarker(hooksDir, id).map { s =>
      val hook = new Fields(mapper.readTree(s))
      (hook.node.get("code").asText(), hook.stringMap("parameters").getOrElse(Map.empty),
        hook.bool("active", default = true))
    }

  /** `POST /event/hook/activate` — store (or replace) a webhook
    * transform: body `{"identifier":…, "code":…, "parameters"?:{…},
    * "active"?:bool}`. The code must parse; the module contract is
    * `module(params, body, headers)` → event object | array | null
    * ([[graft.enrich.js.JsWebhookTransform]]). */
  private def handleHookActivate(req: Req): (Int, String) = {
    val b = req.body
    val id = Fields.identifier(b.needScalar("identifier"))
    val code = b.needScalar("code", nonEmpty = true)
    val ps = b.stringMap("parameters").getOrElse(Map.empty)
    val active = b.bool("active", default = true)
    try graft.enrich.js.JsWebhookTransform(code, ps)
    catch {
      case e: graft.enrich.js.MiniJs.JsException =>
        throw new IngestRejected(s"invalid code: ${e.getMessage}")
    }
    val node = mapper.createObjectNode()
    node.put("code", code)
    val pn = node.putObject("parameters")
    ps.foreach { case (k, v) => pn.put(k, v) }
    node.put("active", active)
    graft.store.VersionedState.writeMarker(hooksDir, id,
      mapper.writeValueAsString(node))
    (200, """{"success":true}""")
  }

  /** `POST|GET /event/hook/collect/<identifier>` — run the stored
    * transform over this request (body, query params, headers) and
    * ingest the produced events through the standard pipeline. Returns
    * `1` if anything stored, `0` if the module dropped the request
    * (both 200, the reference's saved/not-saved contract); module
    * execution errors are 500s (WebHookHttpService.java:200-211). */
  private def handleHookCollect(req: Req): (Int, String) = {
    val ex = req.ex
    val id = Fields.identifier(
      ex.getRequestURI.getPath.stripPrefix("/event/hook/collect")
        .stripPrefix("/"))
    val (code, ps, active) = readHook(id).getOrElse(
      return (404, """{"error":"webhook not found"}"""))
    if (!active) return (404, """{"error":"webhook is not active"}""")
    val body = if (req.isPost) req.text else ""
    // the JDK server case-normalizes header names; lowercase them so
    // module code addresses `headers.channel` predictably
    val headers = ex.getRequestHeaders.asScala.map { case (k, vs) =>
      k.toLowerCase -> vs.asScala.headOption.getOrElse("")
    }.toMap
    val lines = graft.enrich.js.JsWebhookTransform(code, ps)
      .transformOne(body, req.params, headers)
    // the reference's webhook path stores DIRECTLY — no mapper stage
    // (WebHookHttpService.java:232 calls eventStore.store without
    // mapEvent); the hook's own JS transform is its enrichment
    val n = if (lines.isEmpty) 0L else ingestAndStore(lines, runMappers = false)
    (200, if (n > 0) "1" else "0")
  }

  /** `POST /event/hook/test` — run code once WITHOUT storing: body
    * `{"code":…, "parameters"?:{…}, "body"?:…}`. Returns the produced
    * event objects as a JSON array; code errors are the client's 400
    * (the reference's test door). */
  private def handleHookTest(req: Req): (Int, String) = {
    val b = req.body
    val code = b.needScalar("code", nonEmpty = true)
    val ps = b.stringMap("parameters").getOrElse(Map.empty)
    val body = b.get("body")
      .map(n => if (n.isTextual) n.asText() else n.toString).getOrElse("")
    val lines =
      try graft.enrich.js.JsWebhookTransform(code, ps).transformOne(body)
      catch {
        case e: graft.enrich.js.MiniJs.JsException =>
          throw new IngestRejected(s"error executing code: ${e.getMessage}")
      }
    (200, lines.mkString("[", ",", "]"))
  }

  private def handleHookGet(req: Req): (Int, String) = {
    val id = req.query.ident("identifier")
    graft.store.VersionedState.readMarker(hooksDir, id) match {
      case None => (404, """{"error":"webhook not found"}""")
      case Some(json) => (200, named("identifier", id, json))
    }
  }

  private def handleHookList(req: Req): (Int, String) =
    (200, markers(hooksDir).map { case (id, json) => named("identifier", id, json) }
      .mkString("[", ",", "]"))

  private def handleHookDelete(req: Req): (Int, String) = {
    val id = Fields.identifier(req.body.needScalar("identifier"))
    if (!dropMarker(hooksDir, id)) (404, """{"error":"webhook not found"}""")
    else (200, """{"success":true}""")
  }

  // ------------- custom event mappers (M7 over HTTP) -------------

  private def mappersDir = s"$warehouse/$project/__mappers"

  /** One stored mapper (the reference's JDBC `custom_event_mappers`
    * row, CustomEventMapperHttpService.java:106-384): a JS
    * `mapper(events, params, sourceIp, headers, sql, config)` applied
    * to every collected batch. `collection=None` is the reference's
    * project-wide mapper; `produced` are the declared output fields
    * (the `addFieldDependency` rule — they evolve the collection's
    * schema when the mapper first touches it). */
  private case class StoredMapper(name: String, script: String,
      collection: Option[String], params: Map[String, String],
      produced: Seq[(String, graft.core.FieldType)], active: Boolean)

  private def parseStoredMapper(name: String, json: String): StoredMapper = {
    val m = new Fields(mapper.readTree(json))
    StoredMapper(name, m.node.get("script").asText(), m.scalar("collection"),
      m.stringMap("parameters").getOrElse(Map.empty),
      m.stringMap("produced").getOrElse(Map.empty).toSeq
        .map { case (f, t) => f -> graft.core.FieldType.fromName(t) },
      m.bool("active", default = true))
  }

  private def storedMappers(): Seq[StoredMapper] =
    markers(mappersDir).map { case (n, json) => parseStoredMapper(n, json) }

  /** Run every stored active mapper over a freshly-ingested collection
    * batch, in name order (the reference applies all registered mappers
    * to each request). Each mapper's declared produced fields evolve
    * the registry first; a field the registry rejects (type conflict)
    * is dropped from that mapper's output rather than corrupting the
    * stored schema — the ingest pipeline's own coerce-or-reject
    * discipline. Each mapper gets a log accumulator appended to
    * `sinks`; the caller drains them into the JS log store AFTER its
    * actions run (the entries only exist once the job executes). */
  private def applyMappers(coll: String, df: DataFrame, sinks: scala.collection.mutable.Buffer[
      (String, org.apache.spark.util.CollectionAccumulator[(String, String)])]): DataFrame = {
    val active = storedMappers().filter(m => m.active && m.collection.forall(_ == coll))
    // a script sees each partition as one batch, and a request is one
    // batch: one partition, as the JSON leaves already are
    val input = if (active.nonEmpty) df.coalesce(1) else df
    active.foldLeft(input) { (d, m) =>
      val (_, rejected) = registry.getOrCreate(project, coll,
        m.produced.map { case (n, t) => registry.Field(n, t) })
      val bad = rejected.map(_.field).toSet
      val keep = m.produced.filterNot { case (n, _) => bad.contains(n) }
      val acc = spark.sparkContext
        .collectionAccumulator[(String, String)](s"js-logs-${m.name}")
      sinks += m.name -> acc
      graft.enrich.js.JsCustomMapper(m.name, coll, keep, m.params, m.script,
        logAcc = Some(acc))(d)
    }
  }

  /** `POST /custom-event-mapper/create` (and `/update`) — body
    * `{"name":…, "script":…, "collection"?:…, "parameters"?:{…},
    * "produced"?:{field:TYPE}, "active"?:bool}`. The script must parse
    * and declare `mapper`; produced field names are normalized by the
    * ingest rules; create refuses an existing name, update a missing
    * one (the reference's create/update split). */
  private def handleMapperCreate(update: Boolean)(req: Req): (Int, String) = {
    val b = req.body
    val name = b.ident("name")
    val script = b.needScalar("script", nonEmpty = true)
    val exists = graft.store.VersionedState.readMarker(mappersDir, name).isDefined
    if (!update && exists)
      throw new IngestRejected(s"mapper '$name' already exists")
    if (update && !exists) return (404, """{"error":"mapper not found"}""")
    val produced = b.stringMap("produced").getOrElse(Map.empty).toSeq.map { case (raw, tn) =>
      val n = graft.core.Names.normalizeField(raw).fold(
        err => throw new IngestRejected(s"produced field '$raw': $err"), identity)
      val t = try graft.core.FieldType.fromName(tn)
        catch { case _: Exception =>
          throw new IngestRejected(s"unknown type '$tn' for produced field '$raw'")
        }
      n -> t
    }
    val ps = b.stringMap("parameters").getOrElse(Map.empty)
    val collection = b.scalar("collection")
    val active = b.bool("active", default = true)
    val probe = try graft.enrich.js.JsCustomMapper(name,
        collection.getOrElse("_probe"), produced, ps, script)
      catch {
        case e: graft.enrich.js.MiniJs.JsException =>
          throw new IngestRejected(s"invalid script: ${e.getMessage}")
      }
    val _ = probe
    val node = mapper.createObjectNode()
    node.put("script", script)
    collection.foreach(node.put("collection", _))
    val pn = node.putObject("parameters")
    ps.foreach { case (k, v) => pn.put(k, v) }
    val fn = node.putObject("produced")
    produced.foreach { case (k, t) => fn.put(k, t.name) }
    node.put("active", active)
    graft.store.VersionedState.writeMarker(mappersDir, name,
      mapper.writeValueAsString(node))
    (200, """{"success":true}""")
  }

  private def handleMapperDelete(req: Req): (Int, String) = {
    val name = req.body.ident("name")
    if (!dropMarker(mappersDir, name)) (404, """{"error":"mapper not found"}""")
    else (200, """{"success":true}""")
  }

  private def handleMapperList(req: Req): (Int, String) = {
    val rows = storedMappers().map { m =>
      val node = mapper.createObjectNode()
      node.put("name", m.name)
      node.put("script", m.script)
      m.collection.foreach(node.put("collection", _))
      val pn = node.putObject("parameters")
      m.params.foreach { case (k, v) => pn.put(k, v) }
      val fn = node.putObject("produced")
      m.produced.foreach { case (k, t) => fn.put(k, t.name) }
      node.put("active", m.active)
      mapper.writeValueAsString(node)
    }
    (200, rows.mkString("[", ",", "]"))
  }

  /** `POST /custom-event-mapper/test` — run a script over inline events
    * WITHOUT storing: body `{"script":…, "parameters"?:{…},
    * "produced"?:{field:TYPE}, "events":[{collection, properties}…]}`.
    * The events run through the REAL ingest pipeline into a throwaway
    * registry, then the mapper; the mutated rows come back as a JSON
    * array (the reference's test door runs the mapper on a sample
    * request). Script errors are the client's 400. */
  private def handleMapperTest(req: Req): (Int, String) = {
    val b = req.body
    val script = b.needScalar("script", nonEmpty = true)
    val ps = b.stringMap("parameters").getOrElse(Map.empty)
    val produced = b.stringMap("produced").getOrElse(Map.empty).toSeq
      .map { case (f, t) => f -> graft.core.FieldType.fromName(t) }
    val events = b.array("events").getOrElse(Fields.missing("events array"))
      .map(_.node.toString)
    val res = ingestLines(SchemaRegistry.inMemory(), events)
    try {
      val out = res.byCollection.toSeq.sortBy(_._1).flatMap { case (coll, df) =>
        val applied =
          // the script sees the request as one batch, whichever leaf
          try graft.enrich.js.JsCustomMapper("test", coll, produced, ps, script)(df.coalesce(1))
          catch {
            case e: graft.enrich.js.MiniJs.JsException =>
              throw new IngestRejected(s"invalid script: ${e.getMessage}")
          }
        applied.toJSON.collect()
      }
      (200, out.mkString("[", ",", "]"))
    } finally res.unpersist()
  }

  // -------- index services (the incremental stores over HTTP) --------


  /** Documents for the dedup-index doors: inline `"docs": [{"doc_id":…,
    * "text":…}…]` for service-sized deltas, or `"source": <parquet dir>`
    * for bulk (the door is only the trigger; the work is a cluster
    * job — the reference's bulk/remote discipline, master-gated). */
  /** The corpus input every curation/tokenizer door shares: inline
    * `docs`, a parquet `source` path, or — the reproducible-training
    * pin — a STORE collection (`"collection": …[, "version": n,
    * "text_column": …, "id_column": …]`): the corpus resolves through
    * [[storedMaybeAt]], so a run that records `(collection, version)`
    * re-reads the byte-identical corpus whatever has been appended or
    * compacted since. */
  private def docsFrameOf(b: Fields): DataFrame =
    b.scalar("collection") match {
      case Some(c) =>
        if (registry.schema(project, c).isEmpty)
          throw new IngestRejected(s"unknown collection '$c'")
        val textCol = b.scalar("text_column").getOrElse("text")
        val idCol = b.scalar("id_column").getOrElse("doc_id")
        val stored = storedMaybeAt(b.version, c)
        for (needed <- Seq(idCol, textCol))
          if (!stored.columns.contains(needed))
            throw new IngestRejected(s"collection '$c' has no column '$needed'")
        stored.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text"))
      case None =>
    b.scalar("source") match {
      case Some(p) =>
        spark.read.parquet(p).select(col("doc_id").cast("long"), col("text"))
      case None =>
        val docs = b.array("docs").getOrElse(
          Fields.missing("docs array or source path"))
        import spark.implicits._
        docs.map { d =>
          (d.long("doc_id").getOrElse(Fields.missing("doc_id")), d.needScalar("text"))
        }.toDF("doc_id", "text")
    }
    }

  /** Vectors for the ANN doors: inline `"vectors": [{"vec_id":…,
    * "embedding":[…], "label"?:…}…]` or `"source": <parquet dir>` with
    * the same columns. */
  private def vectorsFrameOf(b: Fields): DataFrame =
    b.scalar("source") match {
      case Some(p) =>
        spark.read.parquet(p).select(col("vec_id").cast("long"),
          col("embedding").cast("array<float>"), col("label").cast("string"))
      case None =>
        val vecs = b.array("vectors").getOrElse(
          Fields.missing("vectors array or source path"))
        import spark.implicits._
        vecs.map { v =>
          val emb = v.floats("embedding").getOrElse(Fields.missing("embedding array"))
          (v.long("vec_id").getOrElse(Fields.missing("vec_id")), emb,
            v.scalar("label").getOrElse(""))
        }.toDF("vec_id", "embedding", "label")
    }

  private def indexDir(kind: String, name: String) =
    s"$warehouse/$project/__indexes/$kind/$name"

  /** The directory of an existing index of `kind`. */
  private def namedIndex(kind: String, name: String): String = {
    val dir = indexDir(kind, name)
    if (!graft.store.VersionedState.exists(dir))
      throw new IngestRejected("index does not exist")
    dir
  }

  /** The create doors: `exists` is checked INSIDE the write lock, so of
    * racing creates of one name exactly one runs `create` and the others
    * answer 400 "already exists" — checked outside, two could both pass
    * and the later one silently overwrite the first's state. */
  private def createOnce(exists: => Boolean, what: String)(
      create: => Unit): (Int, String) = {
    writeLock.synchronized {
      if (exists) throw new IngestRejected(s"$what already exists")
      create
    }
    (200, """{"success":true}""")
  }

  /** A create door of an index of `kind`, named by the body's `name`. */
  private def createIndex(kind: String, b: Fields)(create: String => Unit): (Int, String) = {
    val name = b.ident("name")
    val dir = indexDir(kind, name)
    createOnce(graft.store.VersionedState.exists(dir), s"index '$name'")(create(dir))
  }

  /** `POST /index/dedup/create` — bootstrap a [[graft.store.DedupIndex]]
    * (min band-key state, |keys|-sized) under this project from inline
    * docs or a parquet source. `append` folds deltas in O(delta)+O(|keys|);
    * `probe` serves first-seen-wins verdicts WITHOUT re-shingling
    * history — near-dup detection as a service over the store the
    * di1 oracle row proves equal to the one-shot batch computation. */
  private def handleDedupCreate(req: Req): (Int, String) = {
    val b = req.body
    createIndex("dedup", b) { dir =>
      graft.store.DedupIndex.initialize(docsFrameOf(b), dir)
    }
  }

  private def handleDedupAppend(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("dedup", b.ident("name"))
    writeLock.synchronized {
      graft.store.DedupIndex.refresh(spark, docsFrameOf(b), dir)
    }
    (200, """{"success":true}""")
  }


  /** `POST /index/substring/create` — bootstrap a
    * [[graft.store.SubstringIndex]] (per-gram (count, first) state)
    * under this project; `append` folds deltas in O(delta) behind the
    * batch fence; `trim` returns the posted docs REWRITTEN keep-first
    * against every passage the index has seen (the di2 semantics) —
    * substring dedup as a service, no history re-tokenization. */
  private def handleSubstringCreate(req: Req): (Int, String) = {
    val b = req.body
    createIndex("substring", b) { dir =>
      graft.store.SubstringIndex.initialize(docsFrameOf(b), dir)
    }
  }

  /** The client's `batch_id` for a fenced append: an integer >= 0. A
    * mistyped id must not read as 0 — a second delivery with another
    * mistyped id would then be skipped as a replay, answered 200, and
    * its docs never folded in. */
  private def fencedBatchId(b: Fields): Long =
    b.long("batch_id", min = 0).getOrElse(Fields.reject(
      "batch_id is required: the append fence only dedups retries " +
        "that re-send the SAME id (last committed high-water is " +
        "returned by every append)"))

  /** One fenced append: the delta folds in through the store's batch
    * fence (a replayed `batchId` is a no-op), and the response echoes
    * the committed high-water so a client can recover its next id
    * after losing state. */
  private def fencedAppend(store: graft.store.MaintainedStore, dir: String,
      batchId: Long)(delta: => DataFrame): (Int, String) =
    writeLock.synchronized {
      store.maintainBatch(delta, dir, batchId)
      (200, s"""{"success":true,"batch_id":$batchId,"high_water":${
        graft.store.VersionedState.lastBatchId(dir)}}""")
    }

  /** Append goes through the batch fence with a REQUIRED client
    * `batch_id`, exactly the vocab-door contract and for the same
    * reason: (count, first) state sum-merges its counts, so a blind
    * retry of the same delivery must be a no-op, and only the client
    * knows two requests are the same delivery. */
  private def handleSubstringAppend(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("substring", b.ident("name"))
    fencedAppend(graft.store.SubstringIndex, dir, fencedBatchId(b))(docsFrameOf(b))
  }

  private def handleSubstringTrim(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("substring", b.ident("name"))
    val trimmed = graft.store.SubstringIndex
      .probeStore(spark, docsFrameOf(b), dir)
      .orderBy(col("doc_id"))
    (200, trimmed.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `POST /index/vocab/create|append` and
    * `POST /index/vocab/pairs|train|drift` — the maintained vocabulary
    * as a service: deltas fold in as sum-merged word counts
    * (O(delta)); pair ranking, merge learning, and version-over-
    * version tokenizer drift serve from the |vocab| state without any
    * corpus access. All reads are ≤K/top-50 rows. */
  private def handleVocabCreate(req: Req): (Int, String) = {
    val b = req.body
    createIndex("vocab", b) { dir =>
      graft.store.VocabStore.initialize(docsFrameOf(b), dir)
    }
  }

  /** Append folds through the BATCH FENCE, never a bare refresh:
    * sum-merged state double-counts on replay (unlike the dedup
    * index's idempotent min-merge), so a retried delivery — client
    * timeout, proxy retry — must be a no-op. The client MUST supply a
    * stable `batch_id` (400 otherwise): a server-defaulted
    * high-water+1 would hand a blind retry a fresh fence and
    * double-count the very delivery the fence exists to absorb. */
  private def handleVocabAppend(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("vocab", b.ident("name"))
    fencedAppend(graft.store.VocabStore, dir, fencedBatchId(b))(docsFrameOf(b))
  }

  private def handleVocabPairs(req: Req): (Int, String) = {
    val dir = namedIndex("vocab", req.query.ident("name"))
    val rows = graft.store.VocabStore.pairCounts(spark, dir)
      .orderBy(col("rank"))
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  private def mergesJson(
      merges: Seq[graft.analytics.TokenizerQueries.BpeMerge]): String = {
    val arr = mapper.createArrayNode()
    merges.foreach { m =>
      val n = arr.addObject()
      n.put("rank", m.rank); n.put("left", m.left); n.put("right", m.right)
      n.put("merged", m.merged); n.put("pair_count", m.pair_count)
    }
    mapper.writeValueAsString(arr)
  }

  private def handleVocabTrain(req: Req): (Int, String) = {
    val q = req.query
    val dir = namedIndex("vocab", q.ident("name"))
    (200, mergesJson(
      graft.store.VocabStore.train(spark, dir, q.count("k", 8, 1, 64))))
  }

  private def handleVocabDrift(req: Req): (Int, String) = {
    val q = req.query
    val dir = namedIndex("vocab", q.ident("name"))
    val rows = graft.store.VocabStore
      .drift(spark, dir, q.count("k", 8, 1, 64))
      .orderBy(col("rank"))
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `POST /index/vocab/compact` — drop superseded versions past a
    * one-version grace (drift's predecessor survives). */
  private def handleVocabCompact(req: Req): (Int, String) = {
    val dir = namedIndex("vocab", req.body.ident("name"))
    writeLock.synchronized {
      graft.store.VocabStore.compact(dir, grace = 1)
    }
    (200, """{"success":true}""")
  }

  private def handleDedupProbe(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("dedup", b.ident("name"))
    val verdicts = graft.store.DedupIndex
      .probeStore(spark, docsFrameOf(b), dir)
      .orderBy(col("doc_id"))
    (200, verdicts.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `POST /index/ann/create` — bootstrap a [[graft.store.AnnIndex]]
    * (frozen IVF centroids, cell-partitioned append-only postings);
    * `append` assigns only the delta against broadcast centroids;
    * `query` serves exact-cosine top-k reading ONLY the probed cells'
    * partitions; `stats` reports occupancy (the re-seed trigger ai2
    * audits); `compact`/`reseed` are the maintenance verbs. Similarity
    * search as a service over the store ai1 proves equal to the
    * one-shot IVF plan. */
  private def handleAnnCreate(req: Req): (Int, String) = {
    val b = req.body
    createIndex("ann", b) { dir =>
      try graft.store.AnnIndex.initialize(vectorsFrameOf(b), dir)
      catch { case e: IllegalArgumentException =>
        throw new IngestRejected(e.getMessage)
      }
    }
  }

  /** Append goes through the batch fence with a REQUIRED client
    * `batch_id`, the vocab-door contract: a blind retry of the same
    * delivery must not add its postings twice. */
  private def handleAnnAppend(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("ann", b.ident("name"))
    fencedAppend(graft.store.AnnIndex, dir, fencedBatchId(b))(vectorsFrameOf(b))
  }

  private def handleAnnQuery(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("ann", b.ident("name"))
    val vec = b.floats("vector").getOrElse(Fields.missing("vector array"))
    val k = b.count("k", 10, 1, 10000)
    import spark.implicits._
    val q = Seq(vec).toDF("embedding")
    val rows = graft.store.AnnIndex.query(spark, dir, q, k)
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  private def handleAnnStats(req: Req): (Int, String) = {
    val dir = namedIndex("ann", req.query.ident("name"))
    val occ = graft.store.AnnIndex.postings(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("postings"), count(lit(1)).as("cells"),
        max(col("n")).as("max_cell"))
      .collect()(0)
    val node = mapper.createObjectNode()
    node.put("version",
      graft.store.VersionedState.currentVersion(dir))
    node.put("postings", occ.getLong(0))
    node.put("cells", occ.getLong(1))
    node.put("max_cell_share", occ.getLong(2).toDouble / occ.getLong(0))
    (200, mapper.writeValueAsString(node))
  }

  private def handleAnnCompact(req: Req): (Int, String) = {
    val dir = namedIndex("ann", req.body.ident("name"))
    writeLock.synchronized {
      // queries don't take writeLock — deferred deletion, see the
      // text door
      graft.store.AnnIndex.compactPostings(spark, dir,
        deferDeletion = true)
    }
    (200, """{"success":true}""")
  }

  /** Re-seed is fenced like the MV rebuild: the unit is (index, its
    * current version) — completion writes version+1, so the next drift
    * audit mints a fresh unit while two racing gateways execute one
    * retrain. */
  private def handleAnnReseed(req: Req): (Int, String) = {
    val b = req.body
    val name = b.ident("name")
    val dir = namedIndex("ann", name)
    val iters = b.int("iters").getOrElse(2)
    val token =
      s"v${graft.store.VersionedState.currentVersion(dir)}"
    // withClaim: the winner heartbeats its claim, so a reseed that
    // legitimately outlasts staleMs is never usurped mid-flight; a
    // failed one releases (a retry must not no-op for staleMs)
    val executed = writeLock.synchronized {
      graft.store.MaintenanceFence.withClaim(fencesDir,
        s"ann-reseed-$name", token) {
        graft.store.AnnIndex.reseed(spark, dir, iters)
      }.isDefined
    }
    (200, s"""{"success":true,"executed":$executed}""")
  }


  /** `POST /index/text/create` — bootstrap a
    * [[graft.store.InvertedIndex]] (term-hash-sharded postings +
    * cumulative stats sidecars) from inline docs or a parquet source;
    * `append` folds a delta as the next postings version; `search`
    * BM25-scores a term list with the shard-pruned probe (bit-identical
    * to the batchless scan — the ix1 oracle contract); `stats` reports
    * occupancy skew (the ix2 reading: a hot shard means raise the
    * shard count); `compact` consolidates small files. */
  private def handleTextCreate(req: Req): (Int, String) = {
    val b = req.body
    val name = b.ident("name")
    val docs = docsFrameOf(b)
    if (docs.isEmpty)
      throw new IngestRejected("bootstrap batch must contain documents")
    val dir = indexDir("text", name)
    createOnce(graft.store.VersionedState.exists(dir), s"index '$name'") {
      graft.store.InvertedIndex.initialize(docs, dir)
    }
  }

  /** Append goes through the batch fence with a REQUIRED client
    * `batch_id`, the vocab-door contract: a re-appended doc would
    * double-count in BM25 df/tf, so a blind retry of the same delivery
    * must be a no-op. */
  private def handleTextAppend(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("text", b.ident("name"))
    val batchId = fencedBatchId(b)
    val delta = docsFrameOf(b)
    if (delta.isEmpty)
      throw new IngestRejected("delta batch must contain documents")
    fencedAppend(graft.store.InvertedIndex, dir, batchId)(delta)
  }

  private def handleTextSearch(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("text", b.ident("name"))
    val terms = b.strings("terms").getOrElse(Nil).filter(_.nonEmpty)
    if (terms.isEmpty) Fields.missing("terms array")
    val k = b.count("k", 10, 1, 10000)
    val rows = graft.store.InvertedIndex.probe(spark, dir, terms)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `POST /index/text/phrase` — exact-phrase occurrence counts served
    * from the positional postings (the ix3 contract): only the phrase
    * terms' shards are read; no corpus re-tokenization. */
  private def handleTextPhrase(req: Req): (Int, String) = {
    val b = req.body
    val dir = namedIndex("text", b.ident("name"))
    val phrase = b.strings("phrase").getOrElse(Nil).filter(_.nonEmpty)
    if (phrase.isEmpty) Fields.missing("phrase array")
    if (phrase.size > 32)
      throw new IngestRejected("phrase is limited to 32 tokens")
    val k = b.count("k", 100, 1, 10000)
    val rows = graft.store.InvertedIndex
      .phraseProbe(spark, dir, phrase)
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  private def handleTextStats(req: Req): (Int, String) = {
    val dir = namedIndex("text", req.query.ident("name"))
    val occ = graft.store.InvertedIndex.postings(spark, dir)
      .groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("postings"), count(lit(1)).as("shards"),
        max(col("n")).as("max_shard"))
      .collect()(0)
    val node = mapper.createObjectNode()
    node.put("version",
      graft.store.VersionedState.currentVersion(dir))
    node.put("postings", occ.getLong(0))
    node.put("shards", occ.getLong(1))
    node.put("max_shard_share", occ.getLong(2).toDouble / occ.getLong(0))
    (200, mapper.writeValueAsString(node))
  }

  private def handleTextCompact(req: Req): (Int, String) = {
    val dir = namedIndex("text", req.body.ident("name"))
    writeLock.synchronized {
      // searches don't take writeLock, so deletion of the superseded
      // dirs is DEFERRED to the next compaction: an in-flight probe
      // that resolved the pre-flip dir set still finds every file
      graft.store.InvertedIndex.compactPostings(spark, dir,
        deferDeletion = true)
    }
    (200, """{"success":true}""")
  }

  // -------- tokenizer services (bpe2/ch1 made operable) --------

  /** `POST /tokenizer/train` — learn `k` BPE merges over the posted
    * corpus (inline `docs` or a parquet `source` path; the
    * oracle-proven bpe2 loop). The response is the merge list itself —
    * k rows, bounded regardless of corpus size. */
  private def handleTokenizerTrain(req: Req): (Int, String) = {
    val b = req.body
    val k = b.count("k", 8, 1, 64)
    val docs = docsFrameOf(b)
    (200, mergesJson(graft.analytics.TokenizerQueries.bpeTrain(docs, k)))
  }

  /** `POST /tokenizer/chunks` — overlapping context-window chunks of
    * the posted corpus (the oracle-proven ch1 shape), served ordered by
    * (doc_id, chunk_idx) and row-capped: a parquet `source` can be
    * cluster-sized, so the door never collects unboundedly. */
  private def handleTokenizerChunks(req: Req): (Int, String) = {
    val b = req.body
    val limit = b.count("limit", 1000, 1, 10000)
    val rows = graft.analytics.TokenizerQueries.ch1From(docsFrameOf(b))
      .orderBy(col("doc_id"), col("chunk_idx")).limit(limit)
    (200, rows.toJSON.collect().mkString("[", ",", "]"))
  }

  /** `POST /tokenizer/drift` — the bpe4 stability audit over a posted
    * corpus (id-half vs full): the keep-the-vocabulary decision,
    * ≤K rows at any corpus size. */
  private def handleTokenizerDrift(req: Req): (Int, String) = {
    val out = graft.analytics.TokenizerQueries.bpe4From(docsFrameOf(req.body))
    (200, out.orderBy(col("rank")).toJSON.collect().mkString("[", ",", "]"))
  }

  /** Fit the linear quality probe on a posted (or parquet-path) corpus:
    * one aggregation pass for the exact-decimal normal-equation
    * statistics, O(1) driver solve (clf2). The door defines
    * `n_chars = length(text)` — posted docs carry no separate char
    * count, and the feature must mean the same thing for every caller. */
  private def handleProbeTrain(req: Req): (Int, String) = {
    val docs = docsFrameOf(req.body)
      .withColumn("n_chars", length(col("text")).cast("long"))
    val (b0, w1, w2, w3) =
      try TrainingSet.trainQualityProbe(docs)
      catch {
        case e: IllegalArgumentException =>
          throw new IngestRejected(e.getMessage)
      }
    (200, s"""{"bias":$b0,"w_stop_ratio":$w1,"w_mean_tok_len":$w2,""" +
      s""""w_ln_tokens":$w3}""")
  }

  /** `POST /corpus/funnel` — the ds10 curation burn-down over a posted
    * corpus (inline `docs` or parquet `source`) against a posted
    * `benchmark` (same shape, nested object): per-stage docs/tokens
    * surviving quality → dedup → decontamination → split. The output
    * is ≤7 rows regardless of corpus size — the door only triggers
    * the cluster job. */
  private def handleCorpusFunnel(req: Req): (Int, String) = {
    val b = req.body
    val bench = b.obj("benchmark").getOrElse(
      Fields.missing("benchmark object (docs array or source path)"))
    val out = TrainingSet.curationFunnel(docsFrameOf(b), docsFrameOf(bench))
    (200, out.orderBy(col("stage")).toJSON.collect().mkString("[", ",", "]"))
  }

  // -------- materialized views (MaterializedViewHttpService upstream) --------

  private def mvDefsDir = s"$warehouse/$project/__mviews"
  private def mvStateDir(name: String) = s"$warehouse/$project/__mvstate/$name"
  /** Run-once claims for cross-JVM maintenance ([[graft.store
    * .MaintenanceFence]]) — deliberately OUTSIDE the state dirs a
    * rebuild deletes, so the claim survives its own job. */
  private def fencesDir = s"$warehouse/$project/__fences"

  /** One registered view: the upstream reference materializes a view
    * query into a table and incrementally folds in rows past the last
    * refresh point (PrestoMaterializedViewService); here the definition
    * is the [[graft.store.MaterializedView]] shape — group columns plus
    * sum/avg/min/max, HLL-distinct, and KLL-quantile measures — whose
    * persisted state refreshes in O(delta)+O(|groups|). */
  private case class MvDef(name: String, collection: String,
      group: Seq[String], values: Seq[String], distincts: Seq[String],
      quantiles: Seq[String]) {
    def view = new graft.store.MaterializedView(group, values, distincts, quantiles)
  }

  /** A view's column lists, read from a create body or a stored marker. */
  private def mvDef(name: String, collection: String, f: Fields): MvDef = {
    def arr(k: String) = f.strings(k).getOrElse(Nil)
    MvDef(name, collection, arr("group"), arr("values"), arr("distinct"),
      arr("quantiles"))
  }

  private def storedMvDef(name: String, json: String): MvDef = {
    val f = new Fields(mapper.readTree(json))
    mvDef(name, f.node.get("collection").asText(), f)
  }

  private def readMvDef(name: String): Option[MvDef] =
    graft.store.VersionedState.readMarker(mvDefsDir, name).map(storedMvDef(name, _))

  private def storedMvDefs(): Seq[MvDef] =
    markers(mvDefsDir).map { case (n, json) => storedMvDef(n, json) }

  /** A delta batch may predate later schema evolution — align it to the
    * view's declared columns, null-filling absences at the registry's
    * declared type so partial-state schemas line up across versions. */
  private def alignForMv(d: MvDef, df: DataFrame): DataFrame = {
    val declared = registry.sparkSchema(project, d.collection)
      .map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    (d.group ++ d.values ++ d.distincts ++ d.quantiles).distinct
      .foldLeft(df) { (acc, c) =>
        if (acc.columns.contains(c)) acc
        else acc.withColumn(c,
          lit(null).cast(declared.getOrElse(c,
            org.apache.spark.sql.types.StringType)))
      }
  }

  /** Fold a freshly-stored batch into every view registered on its
    * collection — the CONTINUOUS half of the contract: collect-time
    * maintenance, so a view read is always current without a refresh
    * call (the upstream continuous-query semantics). Synchronous under
    * the store's write lock: single-writer, no replay, so the direct
    * initialize-or-refresh is exactly-once by construction. */
  private def maintainMvs(coll: String, df: DataFrame): Unit =
    storedMvDefs().filter(_.collection == coll).foreach { d =>
      d.view.initializeOrRefresh(spark, alignForMv(d, df), mvStateDir(d.name))
    }

  /** Everything stored for `collection` — or, for a collection declared
    * (e.g. via `/project/schema/add`) but never collected into, an
    * empty frame TYPED by the registry schema: views created ahead of
    * data start from empty state, and ad-hoc SQL over a declared-only
    * collection analyzes instead of failing on a missing path. */
  private def storedOrEmpty(collection: String): DataFrame = {
    val table = new org.apache.hadoop.fs.Path(
      EventStore.tablePath(warehouse, project, collection))
    if (table.getFileSystem(spark.sessionState.newHadoopConf()).exists(table))
      EventStore.read(spark, registry, warehouse, project, collection)
    else {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val fields = registry.sparkSchema(project, collection)
        .map(_.fields).getOrElse(Array.empty[StructField])
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields :+ StructField("_month", StringType)))
    }
  }

  /** Rebuild one view's state from the store (create/refresh, and the
    * GDPR path: [[handleUserDelete]] rewrites partitions, and an
    * incremental fold can only ADD — the deleted user's contributions
    * must leave the aggregates AND the HLL/KLL sketches too, which only
    * a re-materialization achieves). Callers hold [[writeLock]]. */
  private def rebuildMv(d: MvDef): Unit = {
    val fs = new org.apache.hadoop.fs.Path(mvStateDir(d.name))
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(mvStateDir(d.name)), true)
    d.view.initialize(alignForMv(d, storedOrEmpty(d.collection)), mvStateDir(d.name))
  }

  /** `POST /materialized-view/create` — body `{"name":…, "collection":…,
    * "group":[…], "values"?:[…], "distinct"?:[…], "quantiles"?:[…]}`.
    * Declared columns must exist in the collection's evolved schema.
    * Creation materializes the view over everything already stored
    * (the reference's create-then-populate), after which every collect
    * folds its delta in. */
  private def handleMvCreate(req: Req): (Int, String) = {
    val b = req.body
    val name = b.ident("name")
    val collection = b.need("collection")
    val d = mvDef(name, collection, b)
    if (d.group.isEmpty)
      throw new IngestRejected("group columns are required")
    val schema = registry.sparkSchema(project, collection).getOrElse(
      throw new IngestRejected(s"unknown collection '$collection'"))
    val known = schema.fieldNames.toSet
    (d.group ++ d.values ++ d.distincts ++ d.quantiles).foreach { c =>
      if (!known.contains(c))
        throw new IngestRejected(s"unknown column '$c' in '$collection'")
    }
    val node = mapper.createObjectNode()
    node.put("collection", collection)
    def put(f: String, vs: Seq[String]): Unit = {
      val a = node.putArray(f); vs.foreach(a.add)
    }
    put("group", d.group); put("values", d.values)
    put("distinct", d.distincts); put("quantiles", d.quantiles)
    createOnce(readMvDef(name).isDefined, s"materialized view '$name'") {
      graft.store.VersionedState.writeMarker(mvDefsDir, name,
        mapper.writeValueAsString(node))
      rebuildMv(d)
    }
  }

  /** `GET /materialized-view/get?name=…` — serve the finalized view
    * (avg from decimal partials, HLL estimates, KLL quantiles) straight
    * from the persisted |groups|-sized state: no history scan. */
  private def handleMvGet(req: Req): (Int, String) = {
    val name = req.query.ident("name")
    val d = readMvDef(name).getOrElse(
      return (404, """{"error":"materialized view not found"}"""))
    val rows = d.view.read(spark, mvStateDir(name))
      .orderBy(d.group.map(col): _*)
      .toJSON.collect()
    (200, rows.mkString("[", ",", "]"))
  }

  private def handleMvList(req: Req): (Int, String) =
    (200, markers(mvDefsDir).map { case (n, json) => named("name", n, json) }
      .mkString("[", ",", "]"))

  private def handleMvDelete(req: Req): (Int, String) = {
    val name = req.body.ident("name")
    val marker = new org.apache.hadoop.fs.Path(mvDefsDir, name)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) (404, """{"error":"materialized view not found"}""")
    else writeLock.synchronized {
      fs.delete(marker, false)
      fs.delete(new org.apache.hadoop.fs.Path(mvStateDir(name)), true)
      (200, """{"success":true}""")
    }
  }

  /** `POST /materialized-view/refresh` — full rebuild from the store
    * (the reference's non-incremental refresh): drops state, re-
    * materializes. The recovery path when a view definition's inputs
    * were corrected (e.g. after a user deletion rewrote partitions —
    * incremental folds can only ADD). Cross-JVM run-once: the rebuild
    * unit is (view, collection commit-log head) claimed through
    * [[graft.store.MaintenanceFence]] — two gateways racing the same
    * refresh execute it once (the loser answers `"executed": false`);
    * new data advances the head and mints a fresh claimable unit. */
  private def handleMvRefresh(req: Req): (Int, String) = {
    val name = req.body.ident("name")
    val d = readMvDef(name).getOrElse(
      return (404, """{"error":"materialized view not found"}"""))
    val token =
      s"v${EventStore.currentVersion(warehouse, project, d.collection).getOrElse(0L)}"
    // withClaim heartbeats while the rebuild runs (a slow-but-alive
    // winner is not usurped) and releases on failure (a retry must not
    // silently no-op with executed:false for the next staleMs)
    val executed = writeLock.synchronized {
      graft.store.MaintenanceFence.withClaim(fencesDir,
        s"mv-rebuild-$name", token) { rebuildMv(d) }.isDefined
    }
    (200, s"""{"success":true,"executed":$executed}""")
  }

  // ---------------- api keys (ProjectHttpService + ApiKeyService) ----------------

  private def keysDir = s"$warehouse/$project/__apikeys"

  /** `(master_key, write_key)` pairs, one marker file per pair named by
    * its master key (keys are lowercase base-32, filesystem-safe). The
    * cache drops on create/revoke; disk is the restart-surviving truth. */
  @volatile private var keysCache: Option[Seq[(String, String)]] = None

  /** Minted key pairs of ANY project's key dir (uncached — used for
    * cross-project authorization, e.g. deleting a sibling project). */
  private def keyPairsOf(keysDirOf: String): Seq[(String, String)] =
    markers(keysDirOf).map { case (_, json) =>
      val pair = mapper.readTree(json)
      (pair.get("master_key").asText(), pair.get("write_key").asText())
    }

  private def apiKeyPairs(): Seq[(String, String)] = keysCache.getOrElse {
    val pairs = keyPairsOf(keysDir)
    keysCache = Some(pairs)
    pairs
  }

  /** The reference's `CryptUtil.generateRandomKey`: secure-random
    * base-32, fixed minimum length. */
  private def randomKey(): String = {
    val rnd = new java.security.SecureRandom()
    var key = ""
    while (key.length < 20) key = new java.math.BigInteger(100, rnd).toString(32)
    key
  }

  /** `POST /project/create-api-keys` — mint and persist a
    * `{master_key, write_key}` pair (ProjectHttpService.java:151-156;
    * the two-key `ProjectApiKeys` of this reference version). Minting
    * the FIRST pair arms enforcement on every keyed door. */
  private def handleCreateKeys(req: Req): (Int, String) = {
    val master = randomKey()
    val write = randomKey()
    val node = mapper.createObjectNode()
    node.put("master_key", master)
    node.put("write_key", write)
    val json = mapper.writeValueAsString(node)
    graft.store.VersionedState.writeMarker(keysDir, master, json)
    keysCache = None
    (200, json)
  }

  /** `POST /project/check-api-keys` — body `{"project":…, "keys":
    * [{"master_key"?:…, "write_key"?:…}…]}` → a boolean per pair: every
    * key PRESENT in the pair must be live in its stated role for the
    * named project; a pair with no keys checks nothing and is vacuously
    * true — exactly the reference's per-key `Optional.ifPresent` flow
    * (ProjectHttpService.java:158-176). */
  private def handleCheckKeys(req: Req): (Int, String) = {
    val b = req.body
    val proj = b.needScalar("project")
    val keys = b.array("keys").getOrElse(Fields.missing("keys array"))
    val pairs = apiKeyPairs()
    def live(k: String, role: KeyRole): Boolean =
      proj.equalsIgnoreCase(project) && (role match {
        case MasterRole => pairs.exists(_._1 == k)
        case WriteRole => pairs.exists(_._2 == k)
      })
    val out = keys.map { k =>
      k.scalar("master_key").forall(live(_, MasterRole)) &&
        k.scalar("write_key").forall(live(_, WriteRole))
    }
    (200, out.mkString("[", ",", "]"))
  }

  /** `POST /project/revoke-api-keys` — body `{"project":…,
    * "master_key":…}` deletes that pair (ProjectHttpService.java:191-196).
    * Revoking the last pair returns the gateway to open dev mode. */
  private def handleRevokeKeys(req: Req): (Int, String) = {
    val master = req.body.needScalar("master_key")
    if (!master.matches("[a-z0-9]+"))
      throw new IngestRejected("invalid master_key")
    if (!dropMarker(keysDir, master)) (404, """{"error":"api key not found"}""")
    else { keysCache = None; (200, """{"success":true}""") }
  }

  // ---------------- project lifecycle ----------------

  private def projectNameOf(b: Fields, field: String): Option[String] =
    b.scalar(field).filter(_.nonEmpty)

  /** `POST /project/create` — create a project namespace
    * (ProjectHttpService.java:51-71): lock-key gate (FORBIDDEN on
    * mismatch), the reference's name validation (alphanumeric +
    * underscore, lowercased), "already exists" on a duplicate; then the
    * registry namespace, the warehouse directory, and a freshly minted
    * api-key pair — persisted under the NEW project's key dir, so a
    * gateway serving that directory enforces them from its first
    * request. */
  private def handleProjectCreate(req: Req): (Int, String) = {
    val b = req.bodyIfValid
    val presented = projectNameOf(b, "lock_key")
    if (!lockKey.forall(k => presented.contains(k)))
      return (403, """{"error":"Lock key is invalid"}""")
    val name = projectNameOf(b, "name").getOrElse(Fields.missing("name"))
    if (!name.matches("^[0-9A-Za-z_]+$"))
      return (400, """{"error":"Project id is not valid. It must be """ +
        """alphanumeric and should not include empty space."}""")
    val proj = name.toLowerCase(java.util.Locale.ENGLISH)
    // duplicate check and creation under one lock: two concurrent
    // creates of the same name must not both pass the check and mint
    // two key pairs (the second would silently shadow the first)
    writeLock.synchronized {
      if (registry.projects.contains(proj) ||
          new java.io.File(s"$warehouse/$proj").isDirectory)
        return (400, """{"error":"The project already exists."}""")
      registry.createProject(proj)
      new java.io.File(s"$warehouse/$proj").mkdirs()
      val master = randomKey()
      val write = randomKey()
      val keys = mapper.createObjectNode()
      keys.put("master_key", master)
      keys.put("write_key", write)
      graft.store.VersionedState.writeMarker(
        s"$warehouse/$proj/__apikeys", master, mapper.writeValueAsString(keys))
      if (proj == project) keysCache = None
      keys.put("project", proj)
      (200, mapper.writeValueAsString(keys))
    }
  }

  /** `POST /project/delete` — master-key-gated recursive drop of a
    * project: its registry namespace, then every directory under the
    * warehouse dir — events, profiles, indexes, keys
    * (ProjectHttpService.java:73-90; `metastore.deleteProject` +
    * `revokeAllKeys` collapse into the dir drop because all state is
    * dir-rooted here). Refused with the reference's 501 unless the
    * gateway was constructed with `allowProjectDeletion` (the
    * `allow-project-deletion` config). Body `{"name":…}` defaults to
    * the gateway's own project, the reference's `context.project`. */
  private def handleProjectDelete(req: Req): (Int, String) = {
    if (!allowProjectDeletion)
      return (501, """{"error":"Project deletion is disabled, you can """ +
        """enable it with `allow-project-deletion` config."}""")
    // the serving project's key gate already passed, but a SIBLING
    // project is authorized by ITS OWN keys
    val candidates = keyCandidates(req)
    val b = req.bodyIfValid
    val name = projectNameOf(b, "name").getOrElse(project)
    if (!name.matches("^[0-9A-Za-z_]+$"))
      return (400, """{"error":"Project id is not valid. It must be """ +
        """alphanumeric and should not include empty space."}""")
    val proj = name.toLowerCase(java.util.Locale.ENGLISH)
    val dir = new java.io.File(s"$warehouse/$proj")
    if (!registry.projects.contains(proj) && !dir.isDirectory)
      return (404, """{"error":"project does not exist"}""")
    if (proj != project) {
      // cross-project drop: the serving project's master key must NOT
      // suffice to destroy a sibling. If the target minted keys, one
      // of ITS master keys is required; a keyless target falls back to
      // the deployment lock key (the create-door gate).
      val target = keyPairsOf(s"$warehouse/$proj/__apikeys")
      val allowed =
        if (target.nonEmpty) candidates.exists(k => target.exists(_._1 == k))
        else lockKey.forall(k =>
          candidates.contains(k) || projectNameOf(b, "lock_key").contains(k))
      if (!allowed)
        return (403, """{"error":"api key is invalid for the target project"}""")
    }
    // the one mutation that destroys a whole tree serializes with every
    // writeLock-guarded writer (ingest, compaction, index maintenance) —
    // an unsynchronized delete raced parquet writers recreating the dirs
    writeLock.synchronized {
      registry.deleteProject(proj)
      graft.FileTree.delete(dir)
    }
    if (proj == project) keysCache = None // own keys dropped with the dir
    (200, """{"success":true}""")
  }

  /** `POST|GET /project/list` — lock-key-gated project enumeration
    * (ProjectHttpService.java:92-101): registry namespaces unioned with
    * the warehouse's project directories (a dir populated before any
    * explicit create still lists) and the serving project itself. */
  private def handleProjectList(req: Req): (Int, String) = {
    val presented = req.params.get("lock_key")
      .orElse(projectNameOf(req.bodyIfValid, "lock_key"))
    if (!lockKey.forall(k => presented.contains(k)))
      return (403, """{"error":"Lock key is invalid"}""")
    val dirs = Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("__"))
    val arr = mapper.createArrayNode()
    (registry.projects ++ dirs :+ project).distinct.sorted.foreach(arr.add)
    (200, mapper.writeValueAsString(arr))
  }

  /** All key material a request presents: `api_key`/`master_key`/
    * `write_key` as query params (plus the pixel's `api.api_key`) or
    * headers, and — for JSON POST bodies — the envelope's `api` node or
    * a top-level `api_key`/`master_key` property. The body is the
    * request's one buffered copy, parsed once for the key check and
    * the handler both. */
  private def keyCandidates(req: Req): Seq[String] = {
    val names = Seq("api_key", "master_key", "write_key")
    val outside = (names :+ "api.api_key").flatMap(n =>
      req.params.get(n) ++ Option(req.ex.getRequestHeaders.getFirst(n)))
    val b = req.bodyIfValid
    val fromBody = names.flatMap(b.scalar) ++
      b.obj("api").toSeq.flatMap(a => names.flatMap(a.scalar))
    (outside ++ fromBody).filter(_.nonEmpty).distinct
  }

  /** True when the request may pass a door of `role`: open gateway (no
    * pairs minted), or a presented key whose role suffices — master
    * passes everything, write passes write doors. */
  private def authorized(role: KeyRole, req: Req): Boolean = {
    val pairs = apiKeyPairs()
    pairs.isEmpty || keyCandidates(req).exists { k =>
      pairs.exists(_._1 == k) ||
        (role == WriteRole && pairs.exists(_._2 == k))
    }
  }

  // ---------------- admin + health ----------------

  /** `GET /admin/configurations` — the gateway's operational descriptor
    * (AdminHttpService.java:39-47 serves module configs; here the
    * engine's knobs that matter to a client). */
  private def handleAdminConfig(req: Req): (Int, String) = {
    val node = mapper.createObjectNode()
    node.put("project", project)
    node.put("warehouse", warehouse)
    node.put("spark_version", spark.version)
    node.put("shuffle_partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    node.put("api_keys_armed", apiKeyPairs().nonEmpty)
    (200, mapper.writeValueAsString(node))
  }

  /** `GET /admin/types` — the field type registry
    * (AdminHttpService.java:78-86). */
  private def handleAdminTypes(req: Req): (Int, String) = {
    val node = mapper.createObjectNode()
    graft.core.FieldType.all.foreach { t =>
      node.put(t.name, t.spark.catalogString)
    }
    (200, mapper.writeValueAsString(node))
  }

  /** `GET /admin/event_mappers` — descriptors of the enrichment stages
    * every collected batch runs through (AdminHttpService.java:49-76
    * lists registered `EventMapper`s), plus the stored custom mappers. */
  private def handleAdminMappers(req: Req): (Int, String) = {
    val builtIn = Seq(
      "timestamp_skew" -> "clamp client clock skew against server time (M1)",
      "user_agent" -> "parse user agent, reject spiders (M2)",
      "referrer" -> "classify referrer host into medium/source (M3)") ++
      // geo is a module: listed only when the gateway carries a dim
      (if (geoRanges.isDefined)
        Seq("geoip" -> "ip to geo fields via range lookup (M4)") else Nil) ++
      Seq("user_id" -> "assign missing _user from device id (M5)")
    val rows = builtIn.map { case (n, d) =>
      s"""{"name":${mapper.writeValueAsString(n)},"description":${
        mapper.writeValueAsString(d)},"custom":false}"""
    } ++ storedMappers().map { m =>
      s"""{"name":${mapper.writeValueAsString(m.name)},"custom":true,"active":${m.active}}"""
    }
    (200, rows.mkString("[", ",", "]"))
  }

  /** `GET|POST /admin/lock_key?lock_key=…` — the reference's
    * installation-lock check (AdminHttpService.java:89-91): true iff
    * the presented key matches the configured one (no lock configured
    * accepts anything). */
  private def handleLockKey(req: Req): (Int, String) = {
    val presented = req.params.get("lock_key")
    (200, lockKey.forall(k => presented.contains(k)).toString)
  }

  /** `GET /` — liveness (RakamHealthCheckModule). Registered at the
    * root context, so it also serves every unmatched path its 404. */
  private def handleHealth(req: Req): (Int, String) =
    if (req.ex.getRequestURI.getPath == "/")
      (200, s"""{"status":"ok","project":${mapper.writeValueAsString(project)}}""")
    else (404, """{"error":"not found"}""")

  /** `POST /project/exception` — the reference's deliberate-failure
    * door (ProjectHttpService.java:104-107 throws NPE): exercises the
    * 500 path so clients can verify error handling. */
  private def handleException(req: Req): (Int, String) =
    throw new NullPointerException("project/exception test door")

  // ---------------- plumbing ----------------

  /** Warehouse mutations serialize on this lock: ingest must observe a
    * consistent registry/MV/index state, and MV rebuilds and index
    * maintenance read-modify-write shared files. Parquet APPENDS
    * themselves no longer need it — `EventStore.stagedAppend` gives
    * every batch a private staging dir and publishes by atomic file
    * moves, so concurrent appenders (threads or separate driver JVMs)
    * cannot clobber each other's `_temporary` — but the cheap
    * coarse lock stays for the single-gateway deployment, where it
    * also orders registry evolution against writes. The multi-driver
    * story (what is safe across gateways, what still needs a single
    * scheduler) is SCALE.md §"Multi-driver writes". Reads (queries,
    * analysis routes) stay fully concurrent on the pool. */
  private val writeLock = new Object

  /** Cloudflare's country header — read only when the gateway carries a
    * geo dim, exactly the reference's gate
    * (MaxmindGeoIPEventMapper.java:190-196, header name verbatim). */
  private def cfCountry(ex: HttpExchange): Option[String] =
    if (geoRanges.isEmpty) None
    else Option(ex.getRequestHeaders.getFirst("HTTP_CF_IPCOUNTRY")).filter(_.nonEmpty)

  /** JSON ingest of a request's lines, leaf picked by size: a small
    * request runs ingest's functions on the driver and yields local
    * relations; a larger one runs them as Spark jobs over one
    * partition. */
  private def ingestLines(reg: SchemaRegistry,
      lines: Seq[String]): JsonIngest.IngestResult =
    if (lines.length <= SmallRequestLines) JsonIngest.ingest(spark, reg, project, lines)
    else JsonIngest.ingest(spark, reg, project, spark.sparkContext.parallelize(lines, 1))

  /** Ingest raw event lines through the standard two-pass path and
    * append each collection to the store; dead letters go to the
    * `$invalid_schema` table exactly as in the batch pipeline. Returns
    * rows stored. */
  private def ingestAndStore(lines: Seq[String],
      runMappers: Boolean = true,
      cfCountry: Option[String] = None): Long = writeLock.synchronized {
    val res = ingestLines(registry, lines)
    try {
      val n = enrichAndStore(res.byCollection.toSeq, runMappers, cfCountry)
      // a local relation answers isEmpty with no job; one partition (as
      // the distributed leaf has) keeps the write to one file
      if (!res.deadLetter.isEmpty)
        EventStore.writeDeadLetter(res.deadLetter.coalesce(1), warehouse, project)
      n
    } finally res.unpersist()
  }

  /** The shared enrich → gate → store pipeline behind every ingest door
    * (JSON lines via [[ingestAndStore]]; the CSV/Avro bulk bodies feed
    * typed frames in directly). Phase 1: the built-in module mappers,
    * then stored custom mappers (the reference's mapper stage, SURVEY
    * §4 step 3); a mapper that drops a row keeps it out of the store
    * AND the stored count; `/event/copy` opts out (mapEvents=false).
    * The spider gate runs on every collection BEFORE anything is
    * written, so a rejected request never stores a partial batch — the
    * reference throws FORBIDDEN from the mapper stage, before storage
    * (UserAgentEventMapper.java:87-90). The gate and the stored-row
    * count are one fold over the spider column.
    *
    * Each enriched frame is materialized once: the gate, the write and
    * every MV delta would otherwise re-execute the whole mapper chain
    * per action — and re-fire the log accumulator, duplicating logger
    * entries. A frame that optimizes to a `LocalRelation` (a small
    * request whose mapper chain Catalyst evaluated on the driver) is
    * already computed: its rows become the frame, with no job, and the
    * gate folds its spider column on the driver. Any
    * other frame (a JS mapper, a geo join, a bulk body, a large
    * request) is PERSISTED and gated by one job. A request is written
    * as one partition, so it stores one file per month. */
  private def enrichAndStore(byCollection: Seq[(String, DataFrame)],
      runMappers: Boolean, cfCountry: Option[String]): Long = {
    var n = 0L
    val logSinks = scala.collection.mutable.Buffer.empty[
      (String, org.apache.spark.util.CollectionAccumulator[(String, String)])]
    // Persisted frames are tracked as they are CREATED, not after the
    // whole `prepared` list is assembled: the spider gate throws from
    // inside the map below (and the gate's job can fail),
    // so a finally that only covered the post-assembly phase would
    // leak every frame cached before the throw — and bot traffic hits
    // that path on every request, accumulating cached blocks without
    // bound in a long-lived gateway JVM.
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      val prepared = byCollection.map { case (coll, df0) =>
        val enriched =
          if (runMappers)
            applyMappers(coll, applyBuiltins(coll, df0, cfCountry), logSinks)
          else df0
        val folded = GraftColumnBridge.localRelation(enriched)
        val df = folded match {
          case Some(rows) => GraftColumnBridge.frame(spark, rows)
          case None if runMappers =>
            val p = enriched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            cached += p
            p
          case None => enriched
        }
        val spider =
          if (runMappers && df.columns.contains("_device_family"))
            coalesce(col("_device_family") === "Spider", lit(false))
          else lit(false)
        val spiders = df.select(spider)
        // one fold per partition; a global `agg` would plan an exchange,
        // which AQE runs as jobs of its own next to the one that fills
        // the cache. Over a local relation the spider column folds too,
        // and its rows are the driver's one partition.
        val perPartition = folded.flatMap(_ => GraftColumnBridge.localRelation(spiders)) match {
          case Some(rows) =>
            Array(HttpGateway.countAndGate(rows.data.iterator.map(_.getBoolean(0))))
          case None =>
            spiders.as(Encoders.scalaBoolean)
              .mapPartitions(it => Iterator(HttpGateway.countAndGate(it)))(
                Encoders.tuple(Encoders.scalaLong, Encoders.scalaBoolean)).collect()
        }
        if (perPartition.exists(_._2))
          throw new HttpGateway.ForbiddenRejected(
            "Spiders are not allowed in Rakam Analytics.")
        (coll, df, perPartition.map(_._1).sum)
      }
      prepared.foreach { case (coll, df, rows) =>
        n += rows
        // a local relation of k rows scans in up to
        // leafNodeDefaultParallelism tasks, and a CSV/Avro body in one
        // per file split; one task keeps a request to one file per
        // partition directory
        EventStore.write(df.coalesce(1), warehouse, project, coll)
        // continuous maintenance: the stored batch is also the delta
        // for every materialized view on this collection
        maintainMvs(coll, df)
      }
      appendJsLogs(logSinks.toSeq)
      n
    } finally cached.foreach(_.unpersist())
  }

  // -------- /javascript-logger: script logger.* output, persisted --------

  private def jsLogsDir = s"$warehouse/$project/__js_logs"
  /** Log batches kept on disk; get_logs serves the latest 100 entries,
    * so pruning to the newest batches loses nothing it would return. */
  private val JsLogBatchesKept = 50

  /** Persist drained `logger.*` accumulator output as one JSON batch
    * file (the reference inserts JDBC rows per entry,
    * JSCodeJDBCLoggerService.java:96-118; a metadata file per ingest
    * batch is the same durability with no row-store dependency). */
  private def appendJsLogs(sinks: Seq[
      (String, org.apache.spark.util.CollectionAccumulator[(String, String)])]): Unit = {
    import scala.jdk.CollectionConverters._
    val nowMs = now() // the injected clock, like the timestamp mapper
    val entries = sinks.flatMap { case (prefix, acc) =>
      acc.value.asScala.map { case (level, message) =>
        val node = mapper.createObjectNode()
        node.put("id", java.util.UUID.randomUUID().toString)
        node.put("prefix", prefix)
        // the reference stores airlift Level names (DEBUG/INFO/WARN/ERROR)
        node.put("level", level.toUpperCase(java.util.Locale.ROOT))
        node.put("message", message)
        node.put("created", nowMs)
        node
      }
    }
    if (entries.isEmpty) return
    val arr = mapper.createArrayNode()
    entries.foreach(arr.add)
    val dir = new org.apache.hadoop.fs.Path(jsLogsDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    val f = new org.apache.hadoop.fs.Path(dir,
      f"$nowMs%013d-${java.util.UUID.randomUUID().toString.take(8)}.json")
    val out = fs.create(f, true)
    try out.write(mapper.writeValueAsBytes(arr)) finally out.close()
    // retention: newest batches only (names sort by timestamp prefix)
    val all = fs.listStatus(dir).map(_.getPath).sortBy(_.getName)
    all.dropRight(JsLogBatchesKept).foreach(p => fs.delete(p, false))
  }

  /** `POST /javascript-logger/get_logs` — body `{"prefix":…,
    * "start"?:…, "end"?:…}` (start/end epoch millis or ISO-8601).
    * Returns the newest 100 entries for the prefix, created DESC, the
    * reference's contract (JSCodeJDBCLoggerService.java:53-88: strict
    * `created > start AND created < end`, LIMIT 100, master key).
    * `POST /custom-event-mapper/get_logs` serves the same store
    * addressed by mapper `name` (the reference addresses by row id
    * with prefix "custom-event-mapper.<id>",
    * CustomEventMapperHttpService.java:195-200; names are this
    * engine's mapper identity). */
  private def serveJsLogs(prefixField: String)(req: Req): (Int, String) = {
    val b = req.body
    val prefix = b.need(prefixField)
    val start = b.instant("start")
    val end = b.instant("end")
    val dir = new org.apache.hadoop.fs.Path(jsLogsDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    import scala.jdk.CollectionConverters._
    val rows =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toIndexedSeq.map(_.getPath).flatMap { p =>
        // a concurrent ingest's retention prune may delete a listed
        // batch between listStatus and open — those entries could
        // never make the newest-100 response anyway, so skip; an
        // EXISTING file that fails to parse stays a server-fault 500
        val bytes =
          try {
            val in = fs.open(p)
            try Some(in.readAllBytes()) finally in.close()
          } catch { case _: java.io.FileNotFoundException => None }
        bytes.toSeq.flatMap(b => mapper.readTree(b).elements().asScala.toSeq)
      }.filter { e =>
        e.get("prefix").asText() == prefix &&
          start.forall(e.get("created").asLong() > _) &&
          end.forall(e.get("created").asLong() < _)
      }.sortBy(-_.get("created").asLong()).take(100)
    val out = rows.map { e =>
      val node = mapper.createObjectNode()
      node.put("id", e.get("id").asText())
      node.put("level", e.get("level").asText())
      node.put("message", e.get("message").asText())
      node.put("timestamp",
        java.time.Instant.ofEpochMilli(e.get("created").asLong()).toString)
      mapper.writeValueAsString(node)
    }
    (200, out.mkString("[", ",", "]"))
  }

  /** The reference's CORS surface (OptionMethodHttpService.java:20-28
    * answers every OPTIONS preflight; browser SDK collects depend on
    * it): preflights short-circuit with the allow headers, and every
    * response carries the allow-origin. */
  private def corsPreflight(ex: HttpExchange): Boolean = {
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    if (ex.getRequestMethod != "OPTIONS") false
    else {
      ex.getResponseHeaders.set("Access-Control-Allow-Headers",
        "Origin, X-Requested-With, Content-Type, Accept, master_key, write_key, api_key")
      ex.getResponseHeaders.set("Access-Control-Allow-Methods",
        "GET, POST, OPTIONS, PUT, DELETE")
      ex.sendResponseHeaders(200, -1L)
      ex.close()
      true
    }
  }

  /** What a handler returns once it has written its own response (the
    * pixel's image): dispatch then writes nothing more. */
  private val Answered: (Int, String) = (0, "")

  /** Serves one door: CORS preflight, then the key role, then the
    * method rule, then the handler. Rejections map to their statuses;
    * anything else is a logged 500. */
  private def dispatch(d: Door): com.sun.net.httpserver.HttpHandler = { ex =>
    if (!corsPreflight(ex)) {
      val req = new Req(ex, mapper)
      val (code, body) =
        try {
          if (!d.role.forall(authorized(_, req))) (403, """{"error":"api key is invalid"}""")
          else if (d.postOnly && !req.isPost) Fields.reject("POST required")
          else d.handler(req)
        } catch {
          case e: HttpGateway.ForbiddenRejected =>
            (403, s"""{"error":${mapper.writeValueAsString(e.getMessage)}}""")
          case e: BatchSources.PayloadTooLarge =>
            (413, s"""{"error":${mapper.writeValueAsString(e.getMessage)}}""")
          case e: IngestRejected =>
            (400, s"""{"error":${mapper.writeValueAsString(e.getMessage)}}""")
          case NonFatal(e) =>
            logServerError(ex, e)
            (500, s"""{"error":${mapper.writeValueAsString(String.valueOf(e))}}""")
        }
      if ((code, body) != Answered) {
        val bytes = body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        val out = ex.getResponseBody
        try out.write(bytes) finally out.close()
      }
    }
  }

  /** Every marker file stored under `dir` (one per hook, mapper, view
    * or key pair) as (name, content), by name. */
  private def markers(dir: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
      .filterNot(_.endsWith(".tmp")).sorted
      .flatMap(n => graft.store.VersionedState.readMarker(dir, n).map(n -> _))
  }

  /** Deletes the marker `name` under `dir`; false when there is none. */
  private def dropMarker(dir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && { fs.delete(p, false); true }
  }

  /** A stored marker's JSON object with its name added as `field`. */
  private def named(field: String, name: String, json: String): String =
    s"""{"$field":${mapper.writeValueAsString(name)},${json.trim.stripPrefix("{")}"""

  /** Every unhandled failure leaves a trace: method, path and the
    * exception with its stack, at ERROR. */
  private def logServerError(ex: HttpExchange, e: Throwable): Unit =
    HttpGateway.log.error(
      s"${ex.getRequestMethod} ${ex.getRequestURI.getPath} failed", e)
}

object HttpGateway {
  private val log = org.apache.logging.log4j.LogManager.getLogger(classOf[HttpGateway])

  private[api] sealed trait KeyRole
  private[api] case object MasterRole extends KeyRole
  private[api] case object WriteRole extends KeyRole

  /** One door of the door table ([[HttpGateway.doors]]). */
  private[api] final case class Door(path: String, postOnly: Boolean,
      role: Option[KeyRole], handler: Req => (Int, String))

  /** Request-level rejection mapped to 403 — the reference's FORBIDDEN
    * (spiders, UserAgentEventMapper.java:87-90). */
  final class ForbiddenRejected(message: String) extends RuntimeException(message)

  /** The spider gate's fold over one partition of the spider column:
    * (rows, any spider). */
  private def countAndGate(spiders: Iterator[Boolean]): (Long, Boolean) =
    spiders.foldLeft((0L, false)) { case ((rows, any), s) => (rows + 1, any || s) }
}
