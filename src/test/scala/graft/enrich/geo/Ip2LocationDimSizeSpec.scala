package graft.enrich.geo

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

/** Measures the broadcast payload of [[Ip2LocationCsv.rangeDim]] at
  * vendor-file scale, replacing j2b's asserted "~10M rows broadcast
  * comfortably" sentence with a number — the same discipline as
  * RangeDimSizeSpec (Maxmind, 827 MB measured).
  *
  * Scale anchor: IP2Location's city-class files (DB11) run ~10M ranges
  * for IPv4, and unlike the Maxmind MMDB (whose pointer encoding
  * shares repeated records) the CSV repeats every string per range, so
  * each parsed row carries its own country/region/city copies — the
  * reference's vendor reader memory-maps the file rather than
  * heap-loading it for exactly this reason
  * (mapper/rakam-mapper-geoip-ip2location/.../IPReader.java).
  *
  * Method: write a DB11-shaped fixture (headerless, fully quoted,
  * realistic column widths — long-form country names, region and
  * city strings at vendor widths, lat/long, plus the zip and timezone
  * columns DB11 appends, which the loader must prune), materialize
  * the SELECTED dim through the UnsafeRow layout a broadcast exchange
  * ships, extrapolate bytes/row to 10M ranges, and assert under the
  * 1.5 GiB broadcast comfort line (for 16g executors). If a future
  * column widens rows past it, this spec — not a production OOM —
  * fails. Fallback above the line (SCALE.md): bin-shard the dim by
  * ip_lo leading bits and re-key probes, the j9 BinnedIntervalJoinRule
  * pattern, instead of broadcasting. */
class Ip2LocationDimSizeSpec extends SparkSpec {

  private val N = 4096
  /** DB11-class IPv4 range count, upper order of magnitude. */
  private val RealScaleRanges = 10000000L
  /** 1.5 GiB broadcast comfort line (for 16g executors). */
  private val ComfortBytes = 1500L * 1024 * 1024

  // vendor-width string pools: long-form names as shipped in DB11
  private val countries = Seq(
    "United States of America", "Korea (Republic of)",
    "United Kingdom of Great Britain and Northern Ireland",
    "Germany", "Brazil", "Japan", "Australia",
    "Venezuela (Bolivarian Republic of)")
  private val regions = Seq(
    "California", "Baden-Wuerttemberg", "Sao Paulo", "Queensland",
    "Gyeonggi-do", "Tokyo-to", "England", "Distrito Capital")

  test("ip2location rangeDim extrapolates under the 1.5 GiB comfort line at 10M ranges") {
    val f = graft.TempDirs.scratch("graft-ip2l-size").resolve("db11.csv")
    val lines = (0 until N).map { i =>
      val lo = i.toLong * 4096
      val hi = lo + 4095
      // distinct city per range (vendor files repeat cities, but each
      // CSV row still carries its own copy — distinctness only keeps
      // the fixture honest about per-row copies surviving any future
      // dedup in the scan)
      val city = f"San Francisco del Distrito $i%06d"
      f""""$lo","$hi","C${i % 97}%02d","${countries(i % countries.size)}","${regions(i % regions.size)}","$city","${i % 180 - 90}.${i % 10000}","${i % 360 - 180}.${i % 10000}","${i % 100000}%05d","America/Los_Angeles""""
    }
    java.nio.file.Files.write(f,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val dim = Ip2LocationCsv.rangeDim(spark, f.toString)
    assert(dim.count() === N.toLong)
    // DB11 appends zip + timezone columns; the loader must NOT ship
    // them in the broadcast payload
    assert(!dim.columns.exists(c => c.contains("_c8") || c.contains("_c9")),
      s"loader leaked unpruned vendor columns: ${dim.columns.mkString(",")}")

    val schema = dim.schema
    val bytes = dim.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      Iterator.single(it.map(r => proj(r).getSizeInBytes.toLong).sum)
    }.collect().sum
    val perRow = bytes.toDouble / N
    val extrapolated = (perRow * RealScaleRanges).toLong
    info(f"ip2location dim: $perRow%.1f B/row unsafe, " +
      f"${extrapolated / (1024.0 * 1024)}%.0f MB at $RealScaleRanges ranges")
    assert(extrapolated <= ComfortBytes,
      f"extrapolated dim ${extrapolated / (1024.0 * 1024)}%.0f MB exceeds " +
        f"the ${ComfortBytes / (1024 * 1024)} MB comfort line " +
        f"($perRow%.1f B/row x $RealScaleRanges ranges) - time to bin-" +
        "shard the dim (BinnedIntervalJoinRule pattern) instead of broadcasting")
  }
}
