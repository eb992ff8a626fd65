package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Schema metastore: one evolving schema per (project, collection) with
  * union-only (additive) evolution. Mirrors the reference's Metastore +
  * SchemaChecker semantics
  * (PostgresqlMetastore.java:253-354, SchemaChecker.java:27-55):
  *
  *  - `getOrCreate` unions new fields in; an existing field's type never
  *    changes (the caller coerces or dead-letters the value instead);
  *  - ≤200 columns per collection;
  *  - field names are normalized (Names.normalizeField) before entry;
  *  - `_`-prefixed names are reserved for module ("magic") fields and
  *    only admitted when declared by a mapper dependency;
  *  - per-project set-once config: USER_TYPE (unifies `_user` across
  *    collections, InternalConfig.java:5-7) and FIXED_SCHEMA (freezes
  *    evolution for non-master writers).
  *
  * Persistence is a JSON file per project (the "DDL"); the in-memory map
  * is the serving cache. Thread-safe via per-registry lock — evolution
  * is a metadata operation, never on the executor hot path.
  *
  * MULTI-GATEWAY (r15): union-only evolution is a natural CRDT — the
  * widest-schema reduce commutes — so two registries over one persisted
  * dir converge if no commit is ever lost. A whole-file write from
  * in-memory state alone would lose them (last writer clobbers the
  * other's fields), so every persist is a read-MERGE-write under a
  * cross-JVM OS file lock (`FileChannel.lock` — released by the OS on
  * crash, unlike a marker file) with an atomic-rename publish: the
  * committed file's fields are unioned into memory first (per-name
  * first-committer-wins, the same rule `getOrCreate` applies in
  * memory — a concurrent same-name/different-type race resolves to
  * whichever commit serialized first, exactly the reference's DDL
  * retry dance, PostgresqlMetastore.java:253-354 /
  * TestMetastore.testConcurrentSchemaChanges), then the union is
  * written out. Readers never need the lock: the rename is atomic, so
  * `load` sees a complete old or new file. `RegistryConvergenceSpec`
  * races two registries and asserts convergence to the union.
  */
final class SchemaRegistry(persistDir: Option[Path] = None) {

  final case class Field(name: String, tpe: FieldType)
  final case class Rejected(field: String, reason: String)

  private val schemas = TrieMap.empty[(String, String), Vector[Field]]
  private val projectConfig = TrieMap.empty[(String, String), String]
  private val lock = new Object

  val MaxColumns = 200

  /** Magic fields every collection carries (constant module fields). */
  private var constantFields: Vector[Field] = Vector.empty
  /** trigger field -> fields materialized when the trigger appears. */
  private var dependentFields: Map[String, Vector[Field]] = Map.empty

  def declareConstantFields(fs: Seq[Field]): Unit = lock.synchronized {
    constantFields = (constantFields ++ fs).distinct
  }
  def declareDependentFields(trigger: String, fs: Seq[Field]): Unit =
    lock.synchronized {
      dependentFields = dependentFields.updated(
        trigger, (dependentFields.getOrElse(trigger, Vector.empty) ++ fs).distinct)
    }

  /** Set-once project config (USER_TYPE, FIXED_SCHEMA). First writer
    * wins; returns the winning value. A value this call sets is
    * persisted by it, like every other change. */
  def setOnce(project: String, key: String, value: String): String =
    lock.synchronized {
      projectConfig.putIfAbsent((project, key), value) match {
        case Some(winner) => winner
        case None =>
          persist(project)
          // persist's merge may have resolved a concurrent race in
          // another gateway's favor
          projectConfig.getOrElse((project, key), value)
      }
    }

  def config(project: String, key: String): Option[String] =
    projectConfig.get((project, key))

  def collections(project: String): Seq[String] =
    schemas.keys.collect { case (p, c) if p == project => c }.toSeq.sorted

  /** Explicitly created projects — a namespace can exist before its
    * first collection does (Metastore.createProject). */
  private val created = TrieMap.empty[String, Unit]

  /** Register a project namespace (ProjectHttpService `/create` →
    * `metastore.createProject`). Persisting the (possibly empty)
    * project file makes the namespace survive a restart. */
  def createProject(project: String): Unit = lock.synchronized {
    created.put(project, ())
    persist(project)
  }

  /** Every known project: explicitly created, or implied by a stored
    * collection schema / config entry (Metastore.getProjects). */
  def projects: Seq[String] =
    (created.keysIterator ++ schemas.keysIterator.map(_._1) ++
      projectConfig.keysIterator.map(_._1)).toSeq.distinct.sorted

  /** Drop a project namespace: its schemas, config, and persisted file
    * (ProjectHttpService `/delete` → `metastore.deleteProject`). The
    * caller owns deleting the project's DATA directories. */
  def deleteProject(project: String): Unit = lock.synchronized {
    created.remove(project)
    schemas.keys.filter(_._1 == project).foreach(schemas.remove)
    projectConfig.keys.filter(_._1 == project).foreach(projectConfig.remove)
    persistDir.foreach(d => Files.deleteIfExists(d.resolve(s"$project.json")))
  }

  def schema(project: String, collection: String): Option[Seq[Field]] =
    schemas.get((project, collection)).map(_.toSeq)

  def sparkSchema(project: String, collection: String): Option[org.apache.spark.sql.types.StructType] =
    schema(project, collection).map(fs =>
      org.apache.spark.sql.types.StructType(fs.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.tpe.spark, nullable = true))))

  /** The single evolution primitive. Fields must already be
    * normalized. Returns (full schema, rejected fields). Union-only:
    * a name colliding with a different existing type is rejected
    * (callers coerce values to the registered type or dead-letter);
    * reserved `_` names are rejected unless module-declared; the 200-
    * column cap and FIXED_SCHEMA reject overflow fields.
    */
  def getOrCreate(project: String, collection: String, fields: Seq[Field],
      masterKey: Boolean = true): (Seq[Field], Seq[Rejected]) = lock.synchronized {
    refresh(project)
    val key = (project, collection)
    val existing = schemas.getOrElse(key,
      // first event creates the collection with the constant magic fields
      constantFields)
    val byName = scala.collection.mutable.LinkedHashMap(existing.map(f => f.name -> f): _*)
    val rejected = Vector.newBuilder[Rejected]
    val frozen = config(project, "FIXED_SCHEMA").contains("true") && !masterKey

    val withDeps = fields ++ fields.flatMap(f => dependentFields.getOrElse(f.name, Vector.empty))
    withDeps.foreach { f =>
      byName.get(f.name) match {
        case Some(cur) if cur.tpe == f.tpe => () // already present
        case Some(cur) =>
          rejected += Rejected(f.name, s"type conflict: registered ${cur.tpe.name}, got ${f.tpe.name}")
        case None if frozen =>
          rejected += Rejected(f.name, "FIXED_SCHEMA: new fields require master key")
        case None if f.name.startsWith("_") && !isModuleField(f.name) =>
          rejected += Rejected(f.name, s"reserved module-field prefix: ${f.name}")
        case None if f.name == "$server_time" =>
          rejected += Rejected(f.name, "reserved name")
        case None if byName.size >= MaxColumns =>
          rejected += Rejected(f.name, s"column cap $MaxColumns reached")
        case None =>
          byName += f.name -> f
      }
    }
    val result = byName.values.toVector
    // a call that adds nothing (the steady state: every collect after
    // a collection's first event) writes nothing: every change to the
    // in-memory state was persisted by the call that made it
    if (!schemas.get(key).contains(result)) {
      schemas.put(key, result)
      persist(project)
    }
    // answer from POST-commit state: persist's merge may have resolved
    // a concurrent same-name race in another gateway's favor
    (schemas.getOrElse(key, result).toSeq, rejected.result())
  }

  private def isModuleField(name: String): Boolean =
    constantFields.exists(_.name == name) ||
      dependentFields.values.exists(_.exists(_.name == name)) ||
      name == "_user" || name == "_time" // core magic fields (ProjectConfig.java:13-15)

  // Jackson-built (not string-concatenated) so collection/field/config
  // names containing quotes or backslashes round-trip through load().
  // Commit protocol (multi-gateway): OS file lock → merge committed
  // file into memory → write union to tmp → atomic rename. Any
  // interleaving of two gateways' commits yields the union.
  private def persist(project: String): Unit = persistDir.foreach { dir =>
    Files.createDirectories(dir)
    withProjectFileLock(dir, project) {
      mergeCommitted(project)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      val colls = root.putObject("collections")
      schemas.toSeq.sortBy(_._1).collect { case ((p, c), fs) if p == project =>
        val obj = colls.putObject(c)
        fs.foreach(f => obj.put(f.name, f.tpe.name))
      }
      val cfg = root.putObject("config")
      projectConfig.toSeq.sortBy(_._1).collect { case ((p, k), v) if p == project =>
        cfg.put(k, v)
      }
      val tmp = Files.createTempFile(dir, s".$project-", ".tmp")
      Files.writeString(tmp, mapper.writeValueAsString(root))
      val f = dir.resolve(s"$project.json")
      Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      seen.put(project, stamp(f))
    }
  }

  /** Each project file's attributes as this instance last wrote or
    * read it. Union-only evolution makes every real change grow the
    * file and every publish is a rename of a new file, so a file whose
    * (mtime, size, file key) still match holds nothing we lack. */
  private val seen = TrieMap.empty[String, Option[(AnyRef, Long, AnyRef)]]

  private def stamp(f: Path): Option[(AnyRef, Long, AnyRef)] =
    try {
      val a = Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Some((a.lastModifiedTime, a.size, a.fileKey))
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Merge the committed file if another instance published it since
    * we last wrote or read it: a call that writes nothing still serves
    * the union every gateway committed. One stat when nothing changed;
    * the stat precedes the read, so a publish racing the read is seen
    * again next time, never missed. */
  private def refresh(project: String): Unit = persistDir.foreach { dir =>
    val st = stamp(dir.resolve(s"$project.json"))
    if (!seen.get(project).contains(st)) {
      mergeCommitted(project)
      seen.put(project, st)
    }
  }

  /** Union the committed file's state into memory, per-name
    * first-committer-wins: a field the file already carries keeps the
    * file's type (that is what every other gateway has seen); fields
    * only we know append after, preserving both column orders. Config
    * keys resolve the same way — the committed value IS the set-once
    * winner. */
  private def mergeCommitted(project: String): Unit = persistDir.foreach { dir =>
    val f = dir.resolve(s"$project.json")
    if (!Files.exists(f)) return
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(f))
    val colls = root.get("collections")
    if (colls != null) colls.properties().asScala.foreach { e =>
      // toVector BEFORE map: mapping the entry Set builds a hash set
      // and would lose the committed column order
      val committed = e.getValue.properties().asScala.toVector.map(fe =>
        Field(fe.getKey, FieldType.fromName(fe.getValue.asText())))
      val ours = schemas.getOrElse((project, e.getKey), Vector.empty)
      val known = committed.map(_.name).toSet
      schemas.put((project, e.getKey),
        committed ++ ours.filterNot(f2 => known.contains(f2.name)))
    }
    val cfg = root.get("config")
    if (cfg != null) cfg.properties().asScala.foreach { e =>
      projectConfig.put((project, e.getKey), e.getValue.asText())
    }
  }

  /** Cross-JVM mutual exclusion on one project's DDL file. The OS
    * lock blocks across processes and dies with a crashed holder; the
    * same-JVM overlap case (two registry instances in one process —
    * `FileChannel.lock` throws instead of blocking there) spins. */
  private def withProjectFileLock[T](dir: Path, project: String)(body: => T): T = {
    import java.nio.file.StandardOpenOption._
    val ch = java.nio.channels.FileChannel.open(
      dir.resolve(s".$project.lock"), CREATE, WRITE)
    try {
      var fl: java.nio.channels.FileLock = null
      while (fl == null) {
        try fl = ch.lock()
        catch {
          case _: java.nio.channels.OverlappingFileLockException =>
            Thread.sleep(1)
        }
      }
      try body finally fl.release()
    } finally ch.close()
  }

  /** Reload a project's schemas from the persisted JSON (inverse of
    * persist; used on restart). */
  def load(project: String): Unit = persistDir.foreach { dir =>
    val f = dir.resolve(s"$project.json")
    seen.put(project, stamp(f))
    if (Files.exists(f)) {
      created.put(project, ())
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(Files.readString(f))
      val colls = root.get("collections")
      if (colls != null) colls.properties().asScala.foreach { e =>
        val fields = e.getValue.properties().asScala.toVector.map { fe =>
          Field(fe.getKey, FieldType.fromName(fe.getValue.asText()))
        }
        schemas.put((project, e.getKey), fields)
      }
      val cfg = root.get("config")
      if (cfg != null) cfg.properties().asScala.foreach { e =>
        projectConfig.put((project, e.getKey), e.getValue.asText())
      }
    }
  }
}

object SchemaRegistry {
  def inMemory(): SchemaRegistry = new SchemaRegistry(None)
  def persistent(dir: String): SchemaRegistry =
    new SchemaRegistry(Some(Paths.get(dir)))
}
