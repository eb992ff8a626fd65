package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every `src/main` definition has a caller outside the tests, or an
  * entry in [[OrphanScanSpec.Allowed]] that says why it stays.
  *
  * The scan is by name, over code lines: scaladoc lines (those whose
  * first non-blank character opens or continues a block comment) and
  * line comments are not counted, so a doc that names a dead twin does
  * not keep it alive. A definition (`def`,
  * `val`, `var`, `object`, `class`, `trait` or `type`, outside string
  * literals) is an orphan when its name occurs exactly once in
  * `src/main` code (its own definition) and never in `perfbench/src`.
  * Not orphans: `override` and `implicit` members (the framework or the
  * compiler calls them) and an object that defines `def main`. A name
  * defined twice (overloads) or shared with another identifier is
  * never listed, so a green scan is not proof of no orphan.
  *
  * To keep a new definition that only tests reach, add its name to
  * [[OrphanScanSpec.Allowed]] with the output it produces that no door,
  * registry query or perfbench workload produces, and the spec that
  * proves it. An entry whose name is gone or has gained a caller fails
  * the second test, so the list cannot outlive its reasons. */
class OrphanScanSpec extends AnyFunSuite {
  import OrphanScanSpec._

  test("every src/main definition has a runtime caller or an allow-list entry") {
    val unlisted = orphans.filter { case (n, _) => !Allowed.contains(n) }
    assert(unlisted.isEmpty,
      "definitions with no caller outside the tests (give each a caller, " +
        "delete it, or add it to OrphanScanSpec.Allowed with a reason):\n" +
        unlisted.toSeq.sorted.map { case (n, byTests) =>
          s"  $n${if (byTests) " (reached by tests)" else " (reached by nothing)"}"
        }.mkString("\n"))
  }

  test("every allow-list entry is still a definition with no runtime caller") {
    val stale = Allowed.keySet -- orphans.keySet
    assert(stale.isEmpty,
      "stale OrphanScanSpec.Allowed entries (the name is no longer defined " +
        "in src/main, or now has a caller): " + stale.toSeq.sorted.mkString(", "))
  }
}

object OrphanScanSpec {

  private val Identifier = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Definition =
    """\b(?:def|val|var|object|class|trait|type) ([A-Za-z_][A-Za-z0-9_]*)""".r
  private val CalledByFramework =
    """\b(?:override|implicit)\s+(?:[a-z]+\s+)*(?:def|val|var|type|object|class)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val ObjectName = """\bobject ([A-Za-z_][A-Za-z0-9_]*)""".r
  private val DocLine = """\s*(\*|/\*).*""".r
  private val StringLiteral = "\"[^\"]*\"".r

  /** Code lines of every `.scala` file under `root`, one Seq per file. */
  private def codeFiles(root: String): Seq[Seq[String]] =
    Using.resource(Files.walk(Paths.get(root))) { paths =>
      paths.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toVector.sortBy(_.toString)
    }.map { p: Path =>
      Files.readAllLines(p).asScala.toSeq
        .filterNot(l => DocLine.matches(l))
        .map(_.replaceAll("//.*$", ""))
    }

  private def identifierCounts(root: String): Map[String, Int] =
    codeFiles(root).flatten.flatMap(l => Identifier.findAllIn(l))
      .groupMapReduce(identity)(_ => 1)(_ + _)

  /** Orphan name → whether any test names it. */
  lazy val orphans: Map[String, Boolean] = {
    val inMain = identifierCounts("src/main")
    val inTests = identifierCounts("src/test")
    val inBench = identifierCounts("perfbench/src")
    val defined = Set.newBuilder[String]
    val exempt = Set.newBuilder[String]
    codeFiles("src/main").foreach { lines =>
      var lastObject: Option[String] = None
      lines.map(l => StringLiteral.replaceAllIn(l, "\"\"")).foreach { l =>
        defined ++= Definition.findAllMatchIn(l).map(_.group(1))
        exempt ++= CalledByFramework.findAllMatchIn(l).map(_.group(1))
        ObjectName.findAllMatchIn(l).foreach(m => lastObject = Some(m.group(1)))
        if (l.contains("def main(")) exempt ++= lastObject.toSeq :+ "main"
      }
    }
    val skip = exempt.result()
    defined.result()
      .filter(n => inMain.getOrElse(n, 0) == 1 && !inBench.contains(n) && !skip(n))
      .map(n => n -> inTests.contains(n)).toMap
  }

  private val ApiAnalytics =
    "graft.api.Analytics facade over the sq/a-family registry shapes " +
      "(SequenceQueriesSpec, AnalyticsSpec, EdgeCasesSpec)"
  private val ApiRetrieval =
    "graft.api.Retrieval facade over r1/r4 for any corpus (RetrievalQueriesSpec)"
  private val ApiSimilarity =
    "graft.api.Similarity facade over the sim/emb/hn registry shapes (SimilaritySpec)"
  private val ApiTrainingSet =
    "graft.api.TrainingSet facade over the d/ds/pk/ch/bpe registry shapes (TrainingSetSpec)"
  private val RecordSinks =
    "S9/S10 Kafka and Kinesis producer shapes of the reference's event " +
      "sinks; no door forwards to a broker (RecordProducersSpec, KafkaWireSpec)"
  private val KafkaTail =
    "ST2 Kafka commit-log tail; the connector jar is not bundled " +
      "(KafkaTailSpec, KafkaWireSpec)"
  private val StreamingSurface =
    "ST1/ST5 Structured Streaming restatement of the reference's " +
      "continuous surfaces (StreamingSpec, ReplaySpec, TimeBoundedJoinSpec)"
  private val FunnelStream =
    "per-user journey results as events arrive: a completion the moment " +
      "its last step lands, an expired journey's steps_reached on timeout; " +
      "/analysis/funnel serves aggregate step counts only (FunnelStateSpec)"
  private val SequenceStream =
    "sq1/sq3 examples emitted from a live stream with idle-user expiry; " +
      "the registry builds them from the stored log only (SequenceStateSpec)"
  private val Webhook =
    "S13 webhook forward of a stream (WebhookEventMapper); no door " +
      "subscribes a webhook (WebhookSinkSpec)"
  private val Theta =
    "Column API of the registered theta-sketch SQL functions (ThetaSketchesSpec)"

  /** Definitions kept with no runtime caller: name → the output that no
    * door, registry query or perfbench workload produces, and the spec
    * that proves it. */
  val Allowed: Map[String, String] = Map(
    "FunnelState" -> FunnelStream,
    "track" -> FunnelStream,
    "SequenceState" -> SequenceStream,
    "examples" -> SequenceStream,
    "sessionExamples" -> SequenceStream,
    "StreamingDedup" ->
      ("exact-dedup verdict per arriving doc (kept, or dropped as a copy " +
        "of its canonical id) with retention expiry; d1 and DedupIndex " +
        "give no per-arrival verdict (StreamingDedupSpec)"),
    "ProfileMappers" ->
      ("M8: the event mappers over profile op-log props " +
        "(UserPropertyMapper); no /user door enriches ops (ProfileMappersSpec)"),
    "WebhookSink" -> Webhook,
    "attach" -> Webhook,
    "avroBulk" ->
      "S11 Avro bulk blobs plus pointer manifest (SinksAndCustomMapperSpec)",
    "RecordProducers" -> RecordSinks,
    "produce" -> RecordSinks,
    "kafkaRecords" -> RecordSinks,
    "kinesisShape" -> RecordSinks,
    "decodeKafka" -> KafkaTail,
    "kafkaStream" -> KafkaTail,
    "sessionAgg" -> StreamingSurface,
    "windowedCounts" -> StreamingSurface,
    "syncOnce" -> StreamingSurface,
    "timeBoundedJoin" -> StreamingSurface,
    "maintain" ->
      ("a maintained store kept current from a stream: the maintainBatch " +
        "the doors call, per micro-batch (ReplaySpec, MaintainedStoreSpec)"),
    "trimStream" ->
      ("SubstringIndex over a stream: each micro-batch trimmed, then folded " +
        "behind the fence (SubstringIndexSpec)"),
    "Retrieval" -> ApiRetrieval,
    "bm25TopK" -> ApiRetrieval,
    "evaluate" -> ApiRetrieval,
    "Similarity" -> ApiSimilarity,
    "cosineTopK" -> ApiSimilarity,
    "hardNegatives" -> ApiSimilarity,
    "knnAccuracy" -> ApiSimilarity,
    "knnJoin" -> ApiSimilarity,
    "mmrTopK" -> ApiSimilarity,
    "bpeMerges" -> ApiTrainingSet,
    "cdcChunkDedup" -> ApiTrainingSet,
    "classifierScore" -> ApiTrainingSet,
    "contextChunks" -> ApiTrainingSet,
    "decontaminate" -> ApiTrainingSet,
    "dedupSurvivors" -> ApiTrainingSet,
    "dupSpanCoverage" -> ApiTrainingSet,
    "epochShuffle" -> ApiTrainingSet,
    "exactDedup" -> ApiTrainingSet,
    "exactStratifiedSample" -> ApiTrainingSet,
    "fuzzyDecontaminate" -> ApiTrainingSet,
    "packingPlan" -> ApiTrainingSet,
    "paragraphDupStats" -> ApiTrainingSet,
    "stripBoilerplate" -> ApiTrainingSet,
    "tokenBudgetMix" -> ApiTrainingSet,
    "negativeSamples" -> ApiAnalytics,
    "nextEventExamples" -> ApiAnalytics,
    "sessionEventExamples" -> ApiAnalytics,
    "timeToConvert" -> ApiAnalytics,
    "packedShards" ->
      "pk3's shard writer: the parquet layout a trainer reads (PackedShardsSpec)",
    "extractFeaturesBatched" ->
      "multimodal batched-decoder seam for an FFI or ONNX decoder (PipelineSpec)",
    "geoIpMapper" ->
      "one-call .mmdb file to GeoIpMapper wiring for a deployment (MaxmindDbSpec)",
    "declareConstantFields" ->
      ("schema-registry module contract: constant fields a mapper module " +
        "declares; the built-in modules declare dependent fields only " +
        "(SchemaRegistrySpec)"),
    "pretty" -> "F18 human-readable field label (FieldTypeSpec)",
    "thetaEstimate" -> Theta,
    "thetaUnionAgg" -> Theta,
    "bloomHitPortable" ->
      ("portable SQL form of the BloomProbe kernel, the shape d7's DuckDB " +
        "twin mirrors; shares the kernel's private geometry (BloomProbeSpec)"),
    "r3HofFrom" ->
      "HOF form of the PhraseCount kernel that r3's DuckDB twin mirrors (RetrievalQueriesSpec)",
    "signatureColumns" ->
      "Column form of the HyperplaneSignature kernel over the same planes (HyperplaneSignatureSpec)",
    "trainLocal" ->
      ("single-node BPE loop that the distributed bpeTrain is proven " +
        "merge-for-merge equal to (TokenizerQueriesSpec)"),
    "entry" -> "SparkEntry driver contract: the flagship query an external driver smoke-checks",
    "readResolve" -> "RuleTable's Java serialization hook, called by ObjectInputStream"
  )
}
