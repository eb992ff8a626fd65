package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's abstract metastore contract
  * (rakam-spi/src/test/java/org/rakam/collection/TestMetastore.java:29-160). */
class SchemaRegistrySpec extends AnyFunSuite {

  private def fresh = SchemaRegistry.inMemory()

  test("create collection with all 30 types") {
    val r = fresh
    val fields = FieldType.all.zipWithIndex.map { case (t, i) => r.Field(s"f$i", t) }
    val (schema, rejected) = r.getOrCreate("p", "c", fields)
    assert(rejected.isEmpty)
    assert(schema.size == 30)
    assert(r.sparkSchema("p", "c").get.fields.length == 30)
  }

  test("union-only evolution: add fields, never retype") {
    val r = fresh
    r.getOrCreate("p", "c", Seq(r.Field("a", FieldType.STRING)))
    val (s2, rej2) = r.getOrCreate("p", "c", Seq(
      r.Field("a", FieldType.LONG), // conflict → rejected
      r.Field("b", FieldType.DOUBLE)))
    assert(s2.map(_.name) == Seq("a", "b"))
    assert(s2.find(_.name == "a").get.tpe == FieldType.STRING)
    assert(rej2.exists(x => x.field == "a" && x.reason.contains("type conflict")))
  }

  test("duplicate field in one batch is idempotent") {
    val r = fresh
    val (s, rej) = r.getOrCreate("p", "c", Seq(
      r.Field("a", FieldType.STRING), r.Field("a", FieldType.STRING)))
    assert(s.count(_.name == "a") == 1)
    assert(rej.isEmpty)
  }

  test("200-column cap") {
    val r = fresh
    val many = (1 to 205).map(i => r.Field(s"f$i", FieldType.STRING))
    val (s, rej) = r.getOrCreate("p", "c", many)
    assert(s.size == 200)
    assert(rej.size == 5)
    assert(rej.forall(_.reason.contains("cap")))
  }

  test("reserved underscore prefix unless module-declared") {
    val r = fresh
    r.declareDependentFields("_user_agent", Seq(r.Field("_os", FieldType.STRING)))
    val (s, rej) = r.getOrCreate("p", "c", Seq(
      r.Field("_os", FieldType.STRING),       // declared → ok
      r.Field("_user", FieldType.STRING),     // core magic → ok
      r.Field("_private", FieldType.STRING))) // undeclared → rejected
    assert(s.exists(_.name == "_os") && s.exists(_.name == "_user"))
    assert(rej.exists(_.field == "_private"))
  }

  test("constant module fields are present from creation") {
    val r = fresh
    r.declareConstantFields(Seq(r.Field("_time", FieldType.TIMESTAMP)))
    val (s, _) = r.getOrCreate("p", "c", Seq(r.Field("x", FieldType.STRING)))
    assert(s.head.name == "_time")
  }

  test("FIXED_SCHEMA freezes evolution for non-master writers") {
    val r = fresh
    r.getOrCreate("p", "c", Seq(r.Field("a", FieldType.STRING)))
    r.setOnce("p", "FIXED_SCHEMA", "true")
    val (s, rej) = r.getOrCreate("p", "c",
      Seq(r.Field("b", FieldType.STRING)), masterKey = false)
    assert(!s.exists(_.name == "b"))
    assert(rej.exists(_.field == "b"))
    val (s2, _) = r.getOrCreate("p", "c",
      Seq(r.Field("b", FieldType.STRING)), masterKey = true)
    assert(s2.exists(_.name == "b"))
  }

  test("USER_TYPE is set-once: first writer wins") {
    val r = fresh
    assert(r.setOnce("p", "USER_TYPE", "LONG") == "LONG")
    assert(r.setOnce("p", "USER_TYPE", "STRING") == "LONG")
    assert(r.config("p", "USER_TYPE").contains("LONG"))
  }

  test("concurrent schema changes converge (TestMetastore.java:144-160)") {
    val r = fresh
    val threads = (1 to 10).map { i =>
      new Thread(() =>
        r.getOrCreate("p", "c", Seq(r.Field(s"f$i", FieldType.STRING))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val s = r.schema("p", "c").get
    assert((1 to 10).forall(i => s.exists(_.name == s"f$i")))
  }

  test("persistence round-trip") {
    val dir = graft.TempDirs.scratch("graft-registry").toString
    val r1 = SchemaRegistry.persistent(dir)
    r1.setOnce("p", "USER_TYPE", "LONG")
    r1.getOrCreate("p", "events", Seq(
      r1.Field("a", FieldType.ARRAY(FieldType.DOUBLE)),
      r1.Field("m", FieldType.MAP(FieldType.STRING))))
    val r2 = SchemaRegistry.persistent(dir)
    r2.load("p")
    assert(r2.schema("p", "events").get.map(f => f.name -> f.tpe.name) ==
      Seq("a" -> "ARRAY_DOUBLE", "m" -> "MAP_STRING"))
    assert(r2.config("p", "USER_TYPE").contains("LONG"))
  }

  test("a no-op getOrCreate leaves the project file untouched") {
    val dir = java.nio.file.Paths.get(graft.TempDirs.scratch("graft-registry-noop").toString)
    val r = SchemaRegistry.persistent(dir.toString)
    r.getOrCreate("p", "events", Seq(r.Field("a", FieldType.STRING)))
    val f = dir.resolve("p.json")
    val before = (java.nio.file.Files.getLastModifiedTime(f), java.nio.file.Files.readString(f))
    // let a rewrite show up in the mtime even on a coarse file clock
    Thread.sleep(20)
    val (schema, rejected) = r.getOrCreate("p", "events", Seq(r.Field("a", FieldType.STRING)))
    r.getOrCreate("p", "events", Seq.empty)
    assert(schema.map(_.name) == Seq("a") && rejected.isEmpty)
    assert((java.nio.file.Files.getLastModifiedTime(f), java.nio.file.Files.readString(f)) == before)
    // a real change still persists
    r.getOrCreate("p", "events", Seq(r.Field("b", FieldType.STRING)))
    assert(java.nio.file.Files.readString(f).contains("\"b\""))
  }

  test("a no-op getOrCreate still serves what another instance committed") {
    val dir = graft.TempDirs.scratch("graft-registry-refresh").toString
    val r1 = SchemaRegistry.persistent(dir)
    val r2 = SchemaRegistry.persistent(dir)
    r1.getOrCreate("p", "events", Seq(r1.Field("a", FieldType.STRING)))
    r2.getOrCreate("p", "events", Seq(r2.Field("b", FieldType.STRING)))
    val (schema, _) = r1.getOrCreate("p", "events", Seq(r1.Field("a", FieldType.STRING)))
    assert(schema.map(_.name) == Seq("a", "b"))
    assert(r1.schema("p", "events").get.map(_.name) == Seq("a", "b"))
  }

  test("a set-once value persists without a schema change") {
    val dir = graft.TempDirs.scratch("graft-registry-setonce").toString
    val r1 = SchemaRegistry.persistent(dir)
    r1.getOrCreate("p", "events", Seq(r1.Field("a", FieldType.STRING)))
    r1.setOnce("p", "USER_TYPE", "LONG")
    r1.getOrCreate("p", "events", Seq(r1.Field("a", FieldType.STRING)))
    val r2 = SchemaRegistry.persistent(dir)
    r2.load("p")
    assert(r2.config("p", "USER_TYPE").contains("LONG"))
  }

  test("a reloaded or merged registry keeps the committed column order") {
    val dir = graft.TempDirs.scratch("graft-registry-order").toString
    val names = Seq("zeta", "alpha", "mid", "b", "yy", "c0", "omega", "a1")
    val r1 = SchemaRegistry.persistent(dir)
    names.foreach(n => r1.getOrCreate("p", "events", Seq(r1.Field(n, FieldType.STRING))))
    val r2 = SchemaRegistry.persistent(dir)
    r2.load("p")
    assert(r2.schema("p", "events").get.map(_.name) == names)
    val r3 = SchemaRegistry.persistent(dir)
    r3.getOrCreate("p", "events", Seq(r3.Field("new", FieldType.STRING)))
    assert(r3.schema("p", "events").get.map(_.name) == names :+ "new")
  }
}
