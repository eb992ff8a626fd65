package graft.enrich.geo

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** From-scratch reader for the MaxMind DB ("MMDB") binary format — the
  * file format every real GeoIP deployment ships its data in. Written
  * against the PUBLIC MaxMind DB File Format Specification v2.0 (the
  * three sections: binary search tree of fixed-width records, data
  * section in the type-tagged control-byte encoding, metadata map
  * after the `\xAB\xCD\xEFMaxMind.com` marker).
  *
  * The reference mapper opens the customer's `.mmdb` and resolves
  * per-event via the vendor reader
  * (mapper/rakam-mapper-geoip-maxmind/src/main/java/org/rakam/collection/mapper/geoip/maxmind/MaxmindGeoIPEventMapper.java:166-222,292-358).
  * This engine keeps per-row resolution OUT of the row path: the
  * search tree is a prefix trie over IP space, i.e. exactly a sorted
  * list of disjoint [lo, hi] ranges, so [[rangeDim]] enumerates it
  * ONCE into the broadcast range dim that [[graft.enrich.GeoIpMapper]]
  * already joins — the scan stays codegen'd and shuffle-free, and the
  * dim is a few hundred MB broadcast at full GeoIP2-City size. The
  * per-IP [[lookup]] walk exists for point probes and as the
  * equivalence oracle the spec pins the enumeration against.
  */
final class MaxmindDb private (buf: Array[Byte],
    val metadata: MaxmindDb.Metadata, dataBase: Int) extends Serializable {
  import MaxmindDb._

  private val nodeBytes = metadata.recordSize * 2 / 8
  private val treeSize = metadata.nodeCount.toLong * nodeBytes

  /** One search-tree record: the `side` (0 = left/bit 0, 1 = right)
    * pointer of node `n` — a node index, the no-data sentinel
    * (== node_count), or a data-section pointer (> node_count). */
  private def record(n: Int, side: Int): Int = {
    val base = n * nodeBytes
    def b(i: Int): Int = buf(base + i) & 0xFF
    metadata.recordSize match {
      case 24 =>
        val o = side * 3
        (b(o) << 16) | (b(o + 1) << 8) | b(o + 2)
      case 28 =>
        if (side == 0) ((b(3) >>> 4) << 24) | (b(0) << 16) | (b(1) << 8) | b(2)
        else ((b(3) & 0xF) << 24) | (b(4) << 16) | (b(5) << 8) | b(6)
      case 32 =>
        val o = side * 4
        (b(o) << 24) | (b(o + 1) << 16) | (b(o + 2) << 8) | b(o + 3)
      case rs => throw new MmdbFormatException(s"unsupported record_size $rs")
    }
  }

  /** Decode memo keyed by record value: real files point MANY networks
    * at one shared data record (pointer dedup), so decoding each
    * distinct record ONCE — and sharing the decoded object across every
    * network that references it — bounds enumeration memory by
    * |distinct records|, not |networks| (GeoIP2-City: ~100k records vs
    * ~3M networks). */
  // concurrent: lookup() is a public point-probe API callable from
  // multiple threads on one shared instance (decode has no nested
  // decodeData re-entry, so computeIfAbsent cannot self-deadlock)
  @transient private lazy val decodeMemo =
    new java.util.concurrent.ConcurrentHashMap[Integer, Any]()

  private def decodeData(recordValue: Int): Any =
    decodeMemo.computeIfAbsent(Integer.valueOf(recordValue),
      _ => new Decoder(buf, dataBase)
        .decode(treeSize.toInt + (recordValue - metadata.nodeCount))._1)

  /** The node where IPv4 space starts: node 0 for an ip_version-4
    * database; after 96 zero bits (the ::a.b.c.d embedding the spec
    * prescribes for v4 lookups) in an ip_version-6 tree. -1 = the v6
    * tree maps some /96-or-shorter prefix over all of v4 (data or
    * not-found before depth 96 — degenerate but representable). */
  private lazy val v4Root: Int = {
    var node = 0
    var depth = 0
    while (depth < 96 && node < metadata.nodeCount) {
      node = record(node, 0)
      depth += 1
    }
    if (node < metadata.nodeCount) node else -1
  }

  /** Point lookup of ANY address literal — the reference's contract
    * (it resolves via `java.net.InetAddress` and walks whatever bytes
    * come back, MaxmindGeoIPEventMapper.java:292-358). Dotted-quad v4,
    * v4-mapped (`::ffff:a.b.c.d`) and v4-compatible (`::a.b.c.d`)
    * forms walk the v4 subtree; other v6 literals walk the full
    * 128-bit tree (None on an ip_version-4 database, which cannot
    * represent them). Returns the decoded data-section value (a Map
    * for every real database) or None on the no-data record. */
  def lookup(ip: String): Option[Any] = {
    val v4 = graft.functions.IpAddr.v4NumOrEmbedded(ip)
    if (v4 >= 0) return lookupV4Num(v4)
    val bytes = graft.functions.IpAddr.parse16(ip)
    if (bytes == null)
      throw new MmdbFormatException(s"not an IPv4/IPv6 address literal: $ip")
    if (metadata.ipVersion == 4) return None
    walkBits(bytes, 0)
  }

  private def lookupV4Num(ipNum: Long): Option[Any] = {
    var node = if (metadata.ipVersion == 6) v4Root else 0
    if (node < 0) return None
    var bit = 31
    while (bit >= 0) {
      val rec = record(node, ((ipNum >> bit) & 1L).toInt)
      if (rec == metadata.nodeCount) return None
      if (rec > metadata.nodeCount) return Some(decodeData(rec))
      node = rec
      bit -= 1
    }
    None
  }

  /** Bit-walk from `startNode` over `bytes` MSB-first. */
  private def walkBits(bytes: Array[Byte], startNode: Int): Option[Any] = {
    var node = startNode
    var i = 0
    val total = bytes.length * 8
    while (i < total) {
      val bit = (bytes(i >>> 3) >>> (7 - (i & 7))) & 1
      val rec = record(node, bit)
      if (rec == metadata.nodeCount) return None
      if (rec > metadata.nodeCount) return Some(decodeData(rec))
      node = rec
      i += 1
    }
    None
  }

  /** One enumerated network: 128-bit range bounds as (hi64, lo64) long
    * pairs (for a 32-bit walk only the low long is used) plus the
    * shared decoded data record. */
  private case class Leaf(loHi: Long, loLo: Long, hiHi: Long, hiLo: Long,
      data: Any)

  private def lowMask(n: Int): Long =
    if (n <= 0) 0L else if (n >= 64) -1L else (1L << n) - 1

  /** LAZY in-order DFS over the subtree at `rootNode` read as an
    * address space of `totalBits` bits — an explicit-stack iterator, so
    * callers can stream networks into batches instead of holding the
    * whole decoded list (the decode memo already shares repeated data
    * records). `skipV4Aliases` prunes the two /96 subtrees whose
    * literal forms [[graft.functions.IpAddr]] redirects to the v4 dim —
    * ::/96 (the spec's v4 embedding / deprecated v4-compatible form)
    * and ::ffff:0:0/96 (the v4-MAPPED alias real MaxMind files also
    * carry) — so the v6 dim never pays for networks no probe reaches.
    * 6to4 (2002::/16) and Teredo stay: their literals are genuine v6
    * keys, so those ranges ARE reachable. */
  private def leafIterator(rootNode: Int, totalBits: Int,
      skipV4Aliases: Boolean = false): Iterator[Leaf] = new Iterator[Leaf] {
    // frame: (record value, isNode, prefixHi, prefixLo, prefix length)
    private val stack =
      scala.collection.mutable.Stack.empty[(Int, Boolean, Long, Long, Int)]
    if (rootNode >= 0) stack.push((rootNode, true, 0L, 0L, 0))
    private var pending: Leaf = _
    advance()

    private def withBit(pHi: Long, pLo: Long, pos: Int): (Long, Long) =
      if (totalBits <= 64) (pHi, pLo | (1L << (totalBits - 1 - pos)))
      else if (pos < 64) (pHi | (1L << (63 - pos)), pLo)
      else (pHi, pLo | (1L << (127 - pos)))

    private def advance(): Unit = {
      pending = null
      while (pending == null && stack.nonEmpty) {
        val (rec, isNode, pHi, pLo, depth) = stack.pop()
        if (!isNode) {
          val rem = totalBits - depth
          val (hiHi, hiLo) =
            if (totalBits <= 64) (pHi, pLo | lowMask(rem))
            else if (rem <= 64) (pHi, pLo | lowMask(rem))
            else (pHi | lowMask(rem - 64), -1L)
          pending = Leaf(pHi, pLo, hiHi, hiLo, decodeData(rec))
        } else {
          if (depth >= totalBits) throw new MmdbFormatException(
            s"search tree deeper than $totalBits bits")
          var side = 1 // push right first so left pops first (ascending)
          while (side >= 0) {
            val r = record(rec, side)
            if (r != metadata.nodeCount) {
              val (nHi, nLo) =
                if (side == 0) (pHi, pLo) else withBit(pHi, pLo, depth)
              val childDepth = depth + 1
              // bits 80-95 of the address sit at pLo bits 47-32, so the
              // ::ffff:0:0/96 prefix is (pHi, pLo) == (0, 0xFFFF << 32)
              val skip = skipV4Aliases && childDepth == 96 && nHi == 0L &&
                (nLo == 0L || nLo == 0xFFFF00000000L)
              if (!skip)
                stack.push((r, r < metadata.nodeCount, nHi, nLo, childDepth))
            }
            side -= 1
          }
        }
      }
    }

    override def hasNext: Boolean = pending != null
    override def next(): Leaf = {
      val out = pending
      advance()
      out
    }
  }

  /** Enumerate the IPv4 search tree as disjoint, sorted ranges —
    * (ip_lo, ip_hi, decoded data). The trie IS this range list;
    * enumeration is O(|networks|) and each distinct data record
    * decodes once, shared across every network that references it.
    * Nothing is materialized beyond the DFS stack and the shared
    * decode memo. */
  def networksIterator(): Iterator[(Long, Long, Any)] = {
    val root = if (metadata.ipVersion == 6) v4Root else 0
    leafIterator(root, 32).map(l => (l.loLo, l.hiLo, l.data))
  }

  /** Enumerate the FULL 128-bit IPv6 tree as disjoint, sorted 16-byte
    * ranges. By default the ::/96 v4-embedding and ::ffff:0:0/96
    * v4-mapped subtrees are excluded: v4-representable probes (dotted,
    * `::ffff:a.b.c.d`, `::a.b.c.d`) canonicalize to the v4 dim, so
    * carrying those ranges here would roughly double the broadcast for
    * networks no probe reaches (real MaxMind files alias the whole v4
    * tree at both prefixes). `includeV4Embedded = true` restores the
    * complete tree. */
  def networks6Iterator(includeV4Embedded: Boolean = false)
      : Iterator[(Array[Byte], Array[Byte], Any)] = {
    if (metadata.ipVersion != 6) throw new MmdbFormatException(
      s"IPv6 enumeration needs an ip_version-6 database, " +
        s"got ip_version ${metadata.ipVersion}")
    def bytes(hi: Long, lo: Long): Array[Byte] = {
      val out = new Array[Byte](16)
      var i = 0
      while (i < 8) {
        out(i) = ((hi >>> (56 - 8 * i)) & 0xFF).toByte
        out(8 + i) = ((lo >>> (56 - 8 * i)) & 0xFF).toByte
        i += 1
      }
      out
    }
    leafIterator(0, 128, skipV4Aliases = !includeV4Embedded)
      .map(l => (bytes(l.loHi, l.loLo), bytes(l.hiHi, l.hiLo), l.data))
  }

  /** The broadcast range dim for [[graft.enrich.GeoIpMapper]]:
    * `(ip_lo, ip_hi)` plus the flattened MaxMind attribute set — the
    * same columns the reference mapper copies out of the vendor
    * responses (MaxmindGeoIPEventMapper.java:280-353): city DB →
    * `_country_code,_region,_city,_latitude,_longitude,_timezone`;
    * ISP / connection-type DBs → `_isp` / `_connection_type` (read
    * from `traits` or the standalone-database top level). Columns
    * that no network populates are dropped, so a city-only file
    * enriches the city subset — the reference's optional-database
    * behavior. */
  def rangeDim(spark: SparkSession): DataFrame =
    buildDim(spark,
      Seq(StructField("ip_lo", LongType, nullable = false),
        StructField("ip_hi", LongType, nullable = false)),
      () => networksIterator().map { case (lo, hi, d) => (Seq(lo, hi), d) })

  /** The v6 twin of [[rangeDim]]: `(ip6_lo, ip6_hi)` 16-byte BINARY
    * bounds (byte-wise unsigned comparison IS 128-bit range
    * containment) plus the same flattened attribute set. Excludes the
    * ::/96 v4 embedding — those probes take [[rangeDim]] via
    * canonicalization (see [[graft.functions.IpAddr]]). */
  def rangeDim6(spark: SparkSession): DataFrame =
    buildDim(spark,
      Seq(StructField("ip6_lo", BinaryType, nullable = false),
        StructField("ip6_hi", BinaryType, nullable = false)),
      () => networks6Iterator().map { case (lo, hi, d) => (Seq(lo, hi), d) })

  /** Two streaming passes over `ranges`: pass 1 decides which attribute
    * columns any network populates (from the DISTINCT decoded records —
    * identity-shared by the decode memo — so a city-only file yields a
    * dim without isp columns); pass 2 builds the rows. Peak driver
    * allocation is the row list plus one flattened map per DISTINCT
    * record, never per network. */
  private def buildDim(spark: SparkSession, keyFields: Seq[StructField],
      ranges: () => Iterator[(Seq[Any], Any)]): DataFrame = {
    val flatMemo = new java.util.IdentityHashMap[AnyRef, Map[String, Any]]()
    val emptyFlat: Map[String, Any] = Attrs.map { case (n, _) => n -> null }.toMap
    def flat(d: Any): Map[String, Any] = d match {
      case m: Map[_, _] =>
        val k = m.asInstanceOf[AnyRef]
        var f = flatMemo.get(k)
        if (f == null) {
          f = flatten(m.asInstanceOf[Map[String, Any]])
          flatMemo.put(k, f)
        }
        f
      case _ => emptyFlat
    }
    ranges().foreach { case (_, d) => flat(d) } // pass 1: distinct records
    import scala.jdk.CollectionConverters._
    val present = Attrs.filter { case (name, _) =>
      flatMemo.values.asScala.exists(_(name) != null)
    }
    val schema = StructType(keyFields ++
      present.map { case (name, tpe) => StructField(name, tpe, nullable = true) })
    val rows = new java.util.ArrayList[Row]()
    ranges().foreach { case (keys, d) =>
      val f = flat(d)
      rows.add(Row.fromSeq(keys ++ present.map { case (name, _) => f(name) }))
    }
    spark.createDataFrame(rows, schema)
  }
}

object MaxmindDb {

  final class MmdbFormatException(msg: String) extends RuntimeException(msg)

  /** The subset of the metadata map the reader needs, plus identity. */
  final case class Metadata(nodeCount: Int, recordSize: Int, ipVersion: Int,
      databaseType: String, majorVersion: Int, buildEpoch: Long)

  private val Marker: Array[Byte] =
    Array(0xAB.toByte, 0xCD.toByte, 0xEF.toByte) ++ "MaxMind.com".getBytes(UTF_8)

  /** The flattened attribute columns and their Spark types, in dim
    * order (MaxmindGeoIPEventMapper.java:280-353's attribute set). */
  private val Attrs: Seq[(String, DataType)] = Seq(
    "_country_code" -> StringType, "_region" -> StringType,
    "_city" -> StringType, "_latitude" -> DoubleType,
    "_longitude" -> DoubleType, "_timezone" -> StringType,
    "_isp" -> StringType, "_connection_type" -> StringType)

  private def str(v: Any): String = v match {
    case s: String => s; case _ => null
  }
  private def dbl(v: Any): java.lang.Double = v match {
    case d: Double => d; case f: Float => f.toDouble
    case l: Long => l.toDouble; case i: Int => i.toDouble; case _ => null
  }
  private def sub(m: Map[String, Any], key: String): Map[String, Any] =
    m.get(key) match {
      case Some(mm: Map[_, _]) => mm.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  /** GeoIP2 record → flat attribute map (missing → null). */
  private def flatten(m: Map[String, Any]): Map[String, Any] = {
    val country = sub(m, "country")
    val city = sub(m, "city")
    val location = sub(m, "location")
    val traits = sub(m, "traits")
    val region = m.get("subdivisions") match {
      case Some(s: Seq[_]) => s.headOption match {
        case Some(sd: Map[_, _]) =>
          str(sd.asInstanceOf[Map[String, Any]].getOrElse("iso_code", null))
        case _ => null
      }
      case _ => null
    }
    Map(
      "_country_code" -> str(country.getOrElse("iso_code", null)),
      "_region" -> region,
      "_city" -> str(sub(city, "names").getOrElse("en", null)),
      "_latitude" -> dbl(location.getOrElse("latitude", null)),
      "_longitude" -> dbl(location.getOrElse("longitude", null)),
      "_timezone" -> str(location.getOrElse("time_zone", null)),
      "_isp" -> str(traits.getOrElse("isp", m.getOrElse("isp", null))),
      "_connection_type" -> str(traits.getOrElse("connection_type",
        m.getOrElse("connection_type", null))))
  }

  def readFile(path: String): MaxmindDb =
    read(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** The one-call integration the reference configures as
    * `plugin.geoip.database.url`: a customer `.mmdb` file becomes the
    * broadcast-range-join mapper directly — both address families when
    * the database carries the v6 tree. */
  def geoIpMapper(spark: SparkSession, path: String): graft.enrich.GeoIpMapper = {
    val db = readFile(path)
    val v6 = if (db.metadata.ipVersion == 6) Some(db.rangeDim6(spark)) else None
    graft.enrich.GeoIpMapper(db.rangeDim(spark), v6)
  }

  def read(buf: Array[Byte]): MaxmindDb = {
    // the metadata map follows the LAST marker occurrence (the spec
    // caps metadata at 128 KiB; scanning the tail suffices, but a full
    // backward scan is simplest and the file is read once)
    var at = buf.length - Marker.length
    var found = -1
    while (at >= 0 && found < 0) {
      var i = 0
      while (i < Marker.length && buf(at + i) == Marker(i)) i += 1
      if (i == Marker.length) found = at else at -= 1
    }
    if (found < 0) throw new MmdbFormatException("no MaxMind.com metadata marker")
    val metaStart = found + Marker.length
    val meta = new Decoder(buf, metaStart).decode(metaStart)._1 match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new MmdbFormatException(
        s"metadata is not a map: ${other.getClass.getSimpleName}")
    }
    def metaInt(k: String): Int = meta.get(k) match {
      case Some(l: Long) => l.toInt
      case Some(i: Int) => i
      case _ => throw new MmdbFormatException(s"metadata missing $k")
    }
    val md = Metadata(
      nodeCount = metaInt("node_count"),
      recordSize = metaInt("record_size"),
      ipVersion = metaInt("ip_version"),
      databaseType = meta.get("database_type").map(_.toString).getOrElse(""),
      majorVersion = metaInt("binary_format_major_version"),
      buildEpoch = meta.get("build_epoch") match {
        case Some(l: Long) => l; case _ => 0L
      })
    if (md.majorVersion != 2)
      throw new MmdbFormatException(
        s"unsupported binary format major version ${md.majorVersion}")
    if (md.recordSize != 24 && md.recordSize != 28 && md.recordSize != 32)
      throw new MmdbFormatException(s"unsupported record_size ${md.recordSize}")
    val dataBase = md.nodeCount * (md.recordSize * 2 / 8) + 16
    if (dataBase > buf.length)
      throw new MmdbFormatException("search tree extends past end of file")
    new MaxmindDb(buf, md, dataBase)
  }

  /** Data-section decoder: the control-byte encoding (spec §"Data
    * Section"). `base` is the offset pointers are relative to — the
    * data section start for the data section, the map start for the
    * metadata section. Returns (value, offset-after-value). */
  private final class Decoder(buf: Array[Byte], base: Int) {
    private def ub(i: Int): Int = buf(i) & 0xFF

    def decode(offset: Int): (Any, Int) = {
      val ctrl = ub(offset)
      var typ = ctrl >>> 5
      var size = ctrl & 0x1F
      var p = offset + 1
      if (typ == 0) { typ = ub(p) + 7; p += 1 } // extended type
      if (typ == 1) {
        // pointer: bits 3-4 of size = pointer byte width - 1,
        // bits 0-2 prepend to the value; widths 2-4 add fixed bias
        val ss = (size >>> 3) & 0x3
        val v = size & 0x7
        val target = ss match {
          case 0 => (v << 8) | ub(p)
          case 1 => ((v << 16) | (ub(p) << 8) | ub(p + 1)) + 2048
          case 2 => ((v << 24) | (ub(p) << 16) | (ub(p + 1) << 8) | ub(p + 2)) + 526336
          case _ => (ub(p).toLong << 24 | ub(p + 1) << 16 | ub(p + 2) << 8 | ub(p + 3)).toInt
        }
        val next = p + ss + 1
        return (new Decoder(buf, base).decode(base + target)._1, next)
      }
      if (size == 29) { size = 29 + ub(p); p += 1 }
      else if (size == 30) { size = 285 + (ub(p) << 8) + ub(p + 1); p += 2 }
      else if (size == 31) {
        size = 65821 + (ub(p) << 16) + (ub(p + 1) << 8) + ub(p + 2); p += 3
      }
      typ match {
        case 2 => (new String(buf, p, size, UTF_8), p + size)
        case 3 =>
          if (size != 8) throw new MmdbFormatException(s"double of size $size")
          (java.lang.Double.longBitsToDouble(be(p, 8)), p + 8)
        case 4 => (java.util.Arrays.copyOfRange(buf, p, p + size), p + size)
        case 5 | 6 | 9 =>
          if (size > 8) throw new MmdbFormatException(s"uint of size $size")
          (be(p, size), p + size)
        case 10 =>
          (BigInt(1, java.util.Arrays.copyOfRange(buf, p, p + size)), p + size)
        case 7 =>
          var m = Map.empty[String, Any]
          var o = p
          var i = 0
          while (i < size) {
            val (k, o1) = decode(o)
            val (v, o2) = decode(o1)
            m = m.updated(k match {
              case s: String => s
              case other => throw new MmdbFormatException(
                s"map key is not a string: ${other.getClass.getSimpleName}")
            }, v)
            o = o2
            i += 1
          }
          (m, o)
        case 11 =>
          val items = Seq.newBuilder[Any]
          var o = p
          var i = 0
          while (i < size) {
            val (v, o1) = decode(o); items += v; o = o1; i += 1
          }
          (items.result(), o)
        case 8 =>
          // int32: big-endian, ≤ 4 bytes (shorter encodings are
          // non-negative by construction)
          if (size > 4) throw new MmdbFormatException(s"int32 of size $size")
          val raw = be(p, size)
          val v = if (size == 4) raw.toInt.toLong else raw
          (v, p + size)
        case 14 => (size != 0, p) // boolean rides in the size field
        case 15 =>
          if (size != 4) throw new MmdbFormatException(s"float of size $size")
          (java.lang.Float.intBitsToFloat(be(p, 4).toInt), p + 4)
        case t => throw new MmdbFormatException(s"unsupported data type $t")
      }
    }

    private def be(p: Int, n: Int): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc << 8) | ub(p + i); i += 1 }
      acc
    }
  }
}
