package graft.enrich.geo

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Test-scope MMDB WRITER: builds a small but fully valid MaxMind DB
  * file (spec v2.0) from (CIDR → record) entries — search tree at the
  * chosen record width, 16-byte separator, control-byte-encoded data
  * section with optional value dedup via type-1 pointers, marker, and
  * metadata map. Independent of the reader: it encodes from the spec
  * text, so [[MaxmindDb]] round-tripping it is a real format check,
  * not an inverse-function identity. */
object MmdbFixture {

  /** Serialize one data value in the control-byte encoding. Supported
    * inputs: String, Long (uint32/uint64 by magnitude), Int (uint16),
    * Double, Float, Boolean, Seq (array), Map[String, _]. */
  private final class DataWriter(dedupe: Boolean) {
    val out = new ByteArrayOutputStream()
    private val memo = scala.collection.mutable.HashMap.empty[Any, Int]

    private def ctrl(tpe: Int, size: Int): Unit = {
      require(size < 29, s"fixture values stay under the size extensions: $size")
      if (tpe <= 7) out.write(((tpe << 5) | size) & 0xFF)
      else { out.write(size & 0x1F); out.write(tpe - 7) }
    }

    private def beBytes(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i -= 1 }
    }

    /** Minimal-width big-endian byte count for a non-negative value. */
    private def width(v: Long): Int = {
      var n = 0
      var x = v
      while (x != 0) { n += 1; x >>>= 8 }
      n
    }

    private def pointer(target: Int): Unit = {
      // emit the narrowest pointer form for the target offset
      if (target < 2048) {
        out.write((1 << 5) | ((target >>> 8) & 0x7)); out.write(target & 0xFF)
      } else if (target < 526336) {
        val t = target - 2048
        out.write((1 << 5) | (1 << 3) | ((t >>> 16) & 0x7))
        beBytes(t & 0xFFFF, 2)
      } else {
        val t = target - 526336
        out.write((1 << 5) | (2 << 3) | ((t >>> 24) & 0x7))
        beBytes(t & 0xFFFFFF, 3)
      }
    }

    /** Write `v`, return its offset in the data section. Dedupe: a
      * value already written is emitted as a type-1 POINTER to its
      * first serialization — exercising the reader's pointer path the
      * way real files use it (shared city/country records). */
    def write(v: Any): Int = {
      val at = out.size()
      if (dedupe) memo.get(v) match {
        case Some(prev) => pointer(prev); return at
        case None => ()
      }
      v match {
        case s: String =>
          val b = s.getBytes(UTF_8); ctrl(2, b.length); out.write(b)
        case d: Double => ctrl(3, 8); beBytes(java.lang.Double.doubleToLongBits(d), 8)
        case f: Float => ctrl(0 /*ext*/ + 15, 4)
          beBytes(java.lang.Float.floatToIntBits(f).toLong & 0xFFFFFFFFL, 4)
        case i: Int => ctrl(5, width(i.toLong)); beBytes(i.toLong, width(i.toLong))
        case l: Long =>
          if (l <= 0xFFFFFFFFL) { ctrl(6, width(l)); beBytes(l, width(l)) }
          else { ctrl(9, width(l)); beBytes(l, width(l)) }
        case b: Boolean => ctrl(14, if (b) 1 else 0)
        case m: Map[_, _] =>
          ctrl(7, m.size)
          m.foreach { case (k, mv) => write(k); write(mv) }
        case s: Seq[_] =>
          ctrl(11, s.size)
          s.foreach(write)
        case other => sys.error(s"unsupported fixture type: ${other.getClass}")
      }
      if (dedupe) memo.getOrElseUpdate(v, at)
      at
    }
  }

  private final case class Node(var left: Any = null, var right: Any = null)
  // child slots hold: null (no data), Node, or Integer data offset

  /** A dotted quad as its 32-bit value; None unless four decimal
    * octets in 0..255. */
  private def ipv4ToLong(ip: String): Option[Long] = {
    val parts = ip.split("\\.", -1)
    if (parts.length != 4) return None
    var acc = 0L
    var i = 0
    while (i < 4) {
      val p = parts(i)
      if (p.isEmpty || p.length > 3 || !p.forall(c => c >= '0' && c <= '9'))
        return None
      val v = p.toInt
      if (v > 255) return None
      acc = (acc << 8) | v
      i += 1
    }
    Some(acc)
  }

  /** Build a valid MMDB byte array. `entries` are (cidr, record) with
    * dotted-quad IPv4 CIDRs or (when `ipVersion` is 6) IPv6 CIDRs;
    * `recordSize` ∈ {24, 28, 32}; `ipVersion` 4 stores the tree over
    * 32-bit space, 6 over 128-bit space with dotted-quad entries
    * embedded under 96 leading zero bits (the ::a.b.c.d form the spec
    * prescribes for v4-in-v6). */
  def write(entries: Seq[(String, Map[String, Any])], recordSize: Int = 24,
      ipVersion: Int = 4, dedupe: Boolean = true,
      databaseType: String = "GeoIP2-Enterprise-Test"): Array[Byte] = {
    val dw = new DataWriter(dedupe)
    val root = Node()
    entries.foreach { case (cidr, record) =>
      val Array(ip, lenS) = cidr.split("/")
      val isV6Literal = ip.indexOf(':') >= 0
      require(!isV6Literal || ipVersion == 6,
        s"v6 CIDR $cidr needs ipVersion=6")
      val prefixLen = lenS.toInt +
        (if (ipVersion == 6 && !isV6Literal) 96 else 0)
      val totalBits = if (ipVersion == 6) 128 else 32
      // the address as MSB-first bits: v6 literals via the main-scope
      // parser (independent of the reader under test — the reader never
      // parses literals during enumeration), dotted quads as the low 32
      // bits of the space (the ::a.b.c.d embedding when ipVersion=6)
      val addrBytes: Array[Byte] =
        if (isV6Literal) {
          val b = graft.functions.IpAddr.parse16(ip)
          require(b != null, s"bad v6 literal $ip")
          b
        } else {
          val ipNum = ipv4ToLong(ip).getOrElse(sys.error(s"bad ip $ip"))
          val b = new Array[Byte](totalBits / 8)
          var i = 0
          while (i < 4) {
            b(b.length - 4 + i) = ((ipNum >>> (24 - 8 * i)) & 0xFF).toByte
            i += 1
          }
          b
        }
      val offset = dw.write(record)
      var node = root
      def bitAt(depth: Int): Long =
        ((addrBytes(depth >>> 3) >>> (7 - (depth & 7))) & 1).toLong
      var depth = 0
      while (depth < prefixLen - 1) {
        val bit = bitAt(depth)
        node = (if (bit == 0) node.left else node.right) match {
          case n: Node => n
          case null =>
            val n = Node()
            if (bit == 0) node.left = n else node.right = n
            n
          case _ => sys.error(s"overlapping networks at $cidr")
        }
        depth += 1
      }
      val lastBit = bitAt(prefixLen - 1)
      val slot = if (lastBit == 0) node.left else node.right
      require(slot == null, s"overlapping networks at $cidr")
      if (lastBit == 0) node.left = Integer.valueOf(offset)
      else node.right = Integer.valueOf(offset)
    }
    // number nodes breadth-first (node 0 = root, as the spec's lookup
    // starts there), then emit records
    val order = scala.collection.mutable.ArrayBuffer[Node]()
    val queue = scala.collection.mutable.Queue(root)
    val index = scala.collection.mutable.HashMap.empty[Node, Int]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      index(n) = order.size
      order += n
      Seq(n.left, n.right).foreach {
        case c: Node => queue.enqueue(c)
        case _ => ()
      }
    }
    val nodeCount = order.size
    def recValue(slot: Any): Int = slot match {
      case null => nodeCount // no data
      case n: Node => index(n)
      case i: Integer => nodeCount + 16 + i.intValue()
      case _ => sys.error("bad slot")
    }
    val tree = new ByteArrayOutputStream()
    def be(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { tree.write((v >>> (8 * i)) & 0xFF); i -= 1 }
    }
    order.foreach { n =>
      val l = recValue(n.left)
      val r = recValue(n.right)
      recordSize match {
        case 24 => be(l, 3); be(r, 3)
        case 28 =>
          be(l & 0xFFFFFF, 3)
          tree.write((((l >>> 24) & 0xF) << 4) | ((r >>> 24) & 0xF))
          be(r & 0xFFFFFF, 3)
        case 32 => be(l, 4); be(r, 4)
        case _ => sys.error(s"record size $recordSize")
      }
    }
    val metaW = new DataWriter(dedupe = false)
    metaW.write(Map(
      "binary_format_major_version" -> 2,
      "binary_format_minor_version" -> 0,
      "node_count" -> nodeCount.toLong,
      "record_size" -> recordSize,
      "ip_version" -> ipVersion,
      "database_type" -> databaseType,
      "languages" -> Seq("en"),
      "description" -> Map("en" -> "graft test fixture"),
      "build_epoch" -> 1700000000L))
    val out = new ByteArrayOutputStream()
    out.write(tree.toByteArray)
    out.write(new Array[Byte](16)) // data-section separator
    out.write(dw.out.toByteArray)
    out.write(Array(0xAB.toByte, 0xCD.toByte, 0xEF.toByte))
    out.write("MaxMind.com".getBytes(UTF_8))
    out.write(metaW.out.toByteArray)
    out.toByteArray
  }
}
