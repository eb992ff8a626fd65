package perfbench

import java.util.SplittableRandom

/** Seeded input generator. The engine sees only the JSON bodies built
  * here: SDK-shaped events over 2,000 users (skewed), 50 pages, a
  * view / add_to_cart / purchase mix, fixed pools of real browser
  * user agents and referrers, and January 2026 timestamps. One seed
  * gives byte-identical bodies; every stream of a run derives its own
  * generator from the run seed, so clients never share state. */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  /** A generator for stream `i` of this seed (one per client thread). */
  def fork(i: Int): Gen = new Gen(seed * 1000003L + i + 1)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def eventType(): String = {
    val x = rnd.nextInt(100)
    if (x < 70) "view" else if (x < 90) "add_to_cart" else "purchase"
  }

  /** One event object: `{"collection":…,"properties":{…}}`. */
  def event(): String = {
    // skewed popularity: a few heavy users carry multi-step funnels
    val user = f"u${(Gen.Users * math.pow(rnd.nextDouble(), 3)).toInt}%04d"
    val page = f"/p/${rnd.nextInt(Gen.Pages)}%02d"
    val et = eventType()
    val price = if (et == "view") 0.0 else 1 + rnd.nextInt(19900) / 100.0
    val sec = rnd.nextInt(31 * 86400)
    val ms = rnd.nextInt(1000)
    val t = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
      .plusSeconds(sec.toLong)
    val ts = f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.$ms%03d"
    val ua = Gen.jsonString(pick(Gen.UserAgents))
    val ref = Gen.jsonString(pick(Gen.Referrers))
    s"""{"collection":"${Gen.Collection}","properties":{"_user":"$user",""" +
      s""""_time":"$ts","event_type":"$et","page":"$page",""" +
      s""""price":${String.format(java.util.Locale.ROOT, "%.2f", price)},""" +
      s""""_user_agent":$ua,"_referrer":$ref}}"""
  }

  def events(n: Int): Vector[String] = Vector.fill(n)(event())
}

object Gen {
  val Collection = "pageview"
  val Users = 2000
  val Pages = 50
  val FunnelSteps: Seq[String] = Seq("view", "add_to_cart", "purchase")

  /** A `/event/bulk` envelope over `events`. */
  def envelope(events: Seq[String]): String =
    events.mkString("""{"events":[""", ",", "]}")

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  val UserAgents: IndexedSeq[String] = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.61",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 OPR/105.0.0.0")

  val Referrers: IndexedSeq[String] = Vector(
    "https://www.google.com/search?q=shoes",
    "https://www.bing.com/search?q=running+shoes",
    "https://duckduckgo.com/?q=sneakers",
    "https://www.facebook.com/",
    "https://t.co/abc123",
    "https://news.ycombinator.com/item?id=1",
    "https://mail.google.com/mail/u/0/",
    "https://shop.example.com/p/07")
}
