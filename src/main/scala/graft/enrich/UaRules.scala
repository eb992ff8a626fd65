package graft.enrich

import graft.functions.RuleTable

/** Rule TABLES for the M2 user-agent and M3 referrer mappers — data,
  * not code, in the shape of the public uap-core `regexes.yaml` and
  * snowplow referer-parser `referers.yml` databases
  * (ref mapper/rakam-mapper-website/.../UserAgentEventMapper.java:63-131
  * bundles ua-parser over uap-core; ReferrerEventMapper.java:46-149
  * bundles referer-parser). First matching rule wins, exactly the
  * uap-core priority convention (spiders first, Chromium shells before
  * Chrome, CriOS/FxiOS before Safari), so the knowledge lives in rows a
  * maintainer extends without touching the mapper.
  *
  * Each table's detect patterns are one [[graft.functions.RuleTable]]
  * (the `*Table` vals below), compiled once per JVM — as the
  * reference's parser objects compile their databases once at start-up
  * — and evaluated by one [[graft.functions.FirstMatch]] kernel
  * expression that yields the winning rule's index. The mappers decode
  * everything else a rule carries from constant arrays indexed by it,
  * and capture versions and models with the `*VersionTable`s and the
  * device table through [[graft.functions.RuleCapture]].
  *
  * Version semantics follow the reference mapper: MAJOR version only
  * (`parsed.userAgent.major` / `parsed.os.major`), and desktop devices
  * report family "Other" (TestUserAgentEventMapper expects Chrome on
  * Mac ⇒ device "Other", os_version "10").
  */
object UaRules {

  /** One browser rule: family, detection regex, version regex whose
    * group 1 is the MAJOR version ("" = no version, e.g. spiders). */
  final case class UaRule(family: String, detect: String, version: String = "")

  /** Spider detection — the families uap-core tags as device "Spider";
    * the reference REJECTS these with 403 (UserAgentEventMapper:87-90),
    * this engine flags them for the caller's side output. */
  val SpiderRe: String = "(?i)(bot|crawl|spider|slurp|archiver|wget|curl|" +
    "python-requests|python-urllib|scrapy|httpclient|okhttp|java/|libwww|" +
    "phantomjs|headlesschrome|facebookexternalhit|bingpreview|pingdom|" +
    "lighthouse|gtmetrix|uptimerobot|petalbot|bytespider|semrush|ahrefs|" +
    "mj12bot|dotbot|ia_archiver|go-http-client|axios/|node-fetch|" +
    "guzzlehttp|aiohttp|python-httpx|postmanruntime|insomnia/|" +
    // tail round 7: Naver's crawler (no bot/spider substring) and the
    // AI-lab fetcher tokens that don't say "bot" (GPTBot/ClaudeBot/
    // CCBot/PerplexityBot already land on the bot token).
    // Provenance: these are the PUBLIC user-agent tokens each vendor
    // documents for robots.txt opt-out (OpenAI "Overview of OpenAI
    // crawlers", Anthropic "Does Anthropic crawl data from the web"
    // support page, Cohere/Google/Meta crawler docs) — the same rows
    // public bot lists and uap-core's spider tables carry. They name
    // crawlers observed in SERVER LOGS, not any internal system.
    "yeti/|chatgpt-user|claude-web|anthropic-ai|cohere-ai|" +
    "google-extended|meta-externalagent)"

  /** Browser families in uap-core priority order: spiders, then
    * vendor/app shells grouped by engine lineage (a shell's token must
    * win before the engine token it also carries — SamsungBrowser
    * carries Chrome/, Focus carries Firefox/, Coast carries Safari/),
    * then the engines themselves, then legacy/console browsers. */
  val browsers: Seq[UaRule] = Seq(
    UaRule("Spider", SpiderRe),
    // Vewd (ex Opera TV/Devices SDK): set-top/TV runtime whose UAs are
    // Presto-era ("Opera/9.80 … OMI/4.x"), so it must outrank the whole
    // Opera lineage below (tail round 6)
    UaRule("Vewd", "\\bOMI/", "\\bOMI/(\\d+)"),
    // Philips NetTV sets report a NETTV/ token on a Presto-era Opera
    // UA, so it must outrank the Opera lineage too (tail round 10)
    UaRule("Philips NetTV", "NETTV/", "NETTV/(\\d+)"),
    // Opera lineage (Presto + Blink); OPiOS is Opera Mini's iOS shell
    UaRule("Opera Mini", "Opera Mini|OPiOS/", "(?:Opera Mini|OPiOS)/(\\d+)"),
    UaRule("Opera Mobile", "Opera Mobi", "(?:Opera Mobi.*Version|Opera Mobi)/?(\\d+)?"),
    UaRule("Opera GX", "OPX/", "OPX/(\\d+)"),
    UaRule("Opera Touch", "OPT/", "OPT/(\\d+)"),
    UaRule("Opera Coast", "Coast/", "Coast/(\\d+)"),
    UaRule("Opera Neon", "MMS/", "MMS/(\\d+)"),
    UaRule("Opera", "OPR/|Opera[ /]", "(?:OPR|Opera|Version)[ /](\\d+)"),
    // Chromium vendor shells
    UaRule("Edge", "Edg(?:e|A|iOS)?/", "Edg(?:e|A|iOS)?/(\\d+)"),
    // VR and in-car shells: Quest UAs carry SamsungBrowser/ AND Chrome/
    // tokens, so Oculus must precede both
    UaRule("Oculus Browser", "OculusBrowser/", "OculusBrowser/(\\d+)"),
    UaRule("Pico Browser", "PicoBrowser/", "PicoBrowser/(\\d+)"),
    UaRule("Tesla", "Tesla/", "Tesla/(\\d+)"),
    UaRule("Samsung Internet", "SamsungBrowser/", "SamsungBrowser/(\\d+)"),
    UaRule("Yandex Browser", "YaBrowser/", "YaBrowser/(\\d+)"),
    UaRule("Vivaldi", "Vivaldi/", "Vivaldi/(\\d+)"),
    UaRule("Brave", "Brave[ /]", "Brave[ /](\\d+)"),
    // optional-C "UC?Browser/" also matched the U*Browser tail of
    // BIDUBrowser/ — spell the variants out (RuleLintSpec r12)
    UaRule("UC Browser", "UC ?Browser/|UCWEB/", "(?:UC ?Browser|UCWEB)/(\\d+)"),
    UaRule("Whale", "Whale/", "Whale/(\\d+)"),
    UaRule("MiuiBrowser", "MiuiBrowser/", "MiuiBrowser/(\\d+)"),
    UaRule("Mint Browser", "Mint Browser/", "Mint Browser/(\\d+)"),
    UaRule("Quark", "Quark/", "Quark/(\\d+)"),
    UaRule("Lenovo Browser", "SLBrowser/", "SLBrowser/(\\d+)"),
    UaRule("Huawei Browser", "HuaweiBrowser/", "HuaweiBrowser/(\\d+)"),
    UaRule("Vivo Browser", "VivoBrowser/", "VivoBrowser/(\\d+)"),
    UaRule("Oppo Browser", "OppoBrowser/", "OppoBrowser/(\\d+)"),
    UaRule("HeyTap Browser", "HeyTapBrowser/", "HeyTapBrowser/(\\d+)"),
    UaRule("Realme Browser", "RealmeBrowser/", "RealmeBrowser/(\\d+)"),
    // tail round 6: Meizu's stock shell, Transsion's Hi Browser
    // (Tecno/Infinix/itel — dominant across African prepaid traffic),
    // and the XBrowser mini shell, all riding Chrome tokens
    UaRule("Meizu Browser", "MZBrowser/", "MZBrowser/(\\d+)"),
    UaRule("Hi Browser", "HiBrowser/", "HiBrowser/v?(\\d+)"),
    UaRule("XBrowser", "XBrowser/", "XBrowser/(\\d+)"),
    // NOTE: QQ Browser sits AFTER the in-app webview block below — CN
    // super-app webviews (DingTalk, Alipay, QQ) ride the Tencent X5
    // engine whose MQQBrowser/ token would otherwise consume them
    // (RuleLintSpec flagged both as unreachable in r12)
    UaRule("Baidu Browser", "BIDUBrowser[ /]", "BIDUBrowser[ /](\\d+)"),
    UaRule("Baidu Box App", "baiduboxapp/", "baiduboxapp/(\\d+)"),
    UaRule("2345 Explorer", "2345Explorer/", "2345Explorer/(\\d+)"),
    UaRule("Sogou Mobile Browser", "SogouMobileBrowser/", "SogouMobileBrowser/(\\d+)"),
    UaRule("2345 Mobile Browser", "Mb2345Browser/", "Mb2345Browser/(\\d+)"),
    UaRule("Phoenix Browser", "PHX/", "PHX/(\\d+)"),
    UaRule("JioPages", "JioPages/", "JioPages/(\\d+)"),
    UaRule("Atom", "\\bAtom/", "\\bAtom/(\\d+)"),
    UaRule("Sogou Explorer", "MetaSr"),
    UaRule("LieBao", "LBBROWSER"),
    UaRule("Coc Coc", "coc_coc_browser/", "coc_coc_browser/(\\d+)"),
    // MXiOS is Maxthon's iOS shell token (tail round 9)
    UaRule("Maxthon", "Maxthon[ /]?\\d|MXiOS/", "(?:Maxthon[ /]?|MXiOS/)(\\d+)"),
    UaRule("Iron", "Iron[ /]\\d", "Iron[ /](\\d+)"),
    // Avant rides Trident (its UAs carry Trident/… rv:11) so it must
    // outrank the IE rule at the table's tail (tail round 6)
    UaRule("Avant", "Avant Browser|Avant TriCore"),
    // \bDragon/ so Comodo's OTHER browser, IceDragon (a Firefox fork
    // in the Gecko block), can't be consumed here (tail round 10)
    UaRule("Comodo Dragon", "(?:Comodo_|\\b)Dragon/",
      "(?:Comodo_|\\b)Dragon/(\\d+)"),
    UaRule("Avast Secure Browser", "Avast/", "Avast/(\\d+)"),
    UaRule("AVG Secure Browser", "AVG/", "AVG/(\\d+)"),
    UaRule("Seznam Browser", "SznProhlizec/", "SznProhlizec/(\\d+)"),
    // RU Chromium shells (tail round 8). Amigo is a Mail.ru product
    // whose UA also carries the MRCHROME token — its own rule must
    // outrank the generic Mail.ru rule directly below
    UaRule("Amigo", "Amigo/", "Amigo/(\\d+)"),
    UaRule("Orbitum", "Orbitum/", "Orbitum/(\\d+)"),
    UaRule("Sputnik", "\\bSputnik/\\d", "\\bSputnik/(\\d+)"),
    UaRule("Mail.ru Chromium Browser", "MRCHROME"),
    UaRule("Puffin", "Puffin/", "Puffin/(\\d+)"),
    UaRule("Amazon Silk", "Silk/", "Silk/(\\d+)"),
    UaRule("Crosswalk", "Crosswalk/", "Crosswalk/(\\d+)"),
    // Dooble ships Qt WebEngine — its own token must win before the
    // framework rule below (tail round 9; date-schemed versions, the
    // major is the year)
    UaRule("Dooble", "Dooble/", "Dooble/(\\d+)"),
    UaRule("QtWebEngine", "QtWebEngine/", "QtWebEngine/(\\d+)"),
    UaRule("Cent Browser", "CentBrowser/", "CentBrowser/(\\d+)"),
    UaRule("Slimjet", "Slimjet/", "Slimjet/(\\d+)"),
    UaRule("Torch", "Torch/", "Torch/(\\d+)"),
    UaRule("CM Browser", "ACHEETAHI"),
    UaRule("APUS Browser", "APUSBrowser/", "APUSBrowser/(\\d+)"),
    UaRule("Via Browser", "\\bVia/", "\\bVia/(\\d+)"),
    UaRule("qutebrowser", "qutebrowser/", "qutebrowser/(\\d+)"),
    // tail round 8: privacy/de-googled Chromium shells, search-engine
    // browsers, JP/legacy shells — every UA rides a Chrome token, so
    // each must precede the engine rules. (Arc deliberately ships a
    // plain Chrome UA with no token of its own — no rule can exist;
    // it lands on Chrome, same as uap-core.)
    UaRule("Iridium", "Iridium/", "Iridium/(\\d+)"),
    UaRule("Blisk", "Blisk/", "Blisk/(\\d+)"),
    UaRule("Beaker Browser", "BeakerBrowser/", "BeakerBrowser/(\\d+)"),
    UaRule("Qwant", "Qwant(?:iOS|Mobile|Browser)?/",
      "Qwant(?:iOS|Mobile|Browser)?/(\\d+)"),
    UaRule("Norton Private Browser", "Norton/", "Norton/(\\d+)"),
    UaRule("UR Browser", "\\bUR/\\d", "\\bUR/(\\d+)"),
    UaRule("Thorium", "Thorium/", "Thorium/(\\d+)"),
    UaRule("Kinza", "Kinza/", "Kinza/(\\d+)"),
    UaRule("Superbird", "Superbird/", "Superbird/(\\d+)"),
    UaRule("Colibri", "Colibri/", "Colibri/(\\d+)"),
    UaRule("Polarity", "Polarity/", "Polarity/(\\d+)"),
    UaRule("RockMelt", "RockMelt/", "RockMelt/(\\d+)"),
    // tail round 9: Chromium workspace/security shells (product token
    // rides Chrome/Electron tokens, so pre-engine/pre-framework)
    UaRule("Wavebox", "Wavebox/", "Wavebox/(\\d+)"),
    UaRule("Sidekick", "Sidekick/", "Sidekick/(\\d+)"),
    UaRule("CCleaner Browser", "CCleaner/", "CCleaner/(\\d+)"),
    // tail round 10: niche Chromium/WebKit shells. Min is an Electron
    // app (its token rides Chrome/ + Electron/, so pre-framework);
    // GreenBrowser rides MSIE/Trident tokens and must precede the IE
    // rule at the tail; Cliqz and SlimBoat carry Chrome/WebKit tokens
    UaRule("Min", "\\bMin/\\d", "\\bMin/(\\d+)"),
    UaRule("Cliqz", "Cliqz/", "Cliqz/(\\d+)"),
    UaRule("SlimBoat", "SlimBoat/", "SlimBoat/(\\d+)"),
    UaRule("GreenBrowser", "GreenBrowser"),
    // Electron APP shells carry their product token next to Electron/,
    // so they must outrank the framework rule
    UaRule("Slack", "Slack/", "Slack/(\\d+)"),
    UaRule("Discord", "(?i)Discord/", "(?i)Discord/(\\d+)"),
    UaRule("Microsoft Teams", "(?:MS)?Teams/", "(?:MS)?Teams/(\\d+)"),
    UaRule("Signal", "Signal/", "Signal/(\\d+)"),
    UaRule("Viber", "Viber/", "Viber/(\\d+)"),
    UaRule("Skype", "Skype/", "Skype/(\\d+)"),
    UaRule("Notion", "Notion/", "Notion/(\\d+)"),
    UaRule("Obsidian", "(?i)obsidian/", "(?i)obsidian/(\\d+)"),
    UaRule("Spotify", "Spotify/", "Spotify/(\\d+)"),
    // VS Code's webview panes carry Code/ next to Electron/ (tail
    // round 7); \bCode/ so Barcode/-style tails can't hit it
    UaRule("Visual Studio Code", "\\bCode/", "\\bCode/(\\d+)"),
    // CEF game-platform shells (Chrome tokens, so pre-engine)
    UaRule("Steam", "Valve Steam (?:GameOverlay|Client)",
      "Valve Steam (?:GameOverlay|Client)/(?:default/)?(\\d+)"),
    UaRule("Epic Games Launcher", "EpicGamesLauncher",
      "EpicGamesLauncher/(\\d+)"),
    UaRule("Electron", "Electron/", "Electron/(\\d+)"),
    UaRule("Falkon", "Falkon/", "Falkon/(\\d+)"),
    UaRule("Otter", "Otter/", "Otter/(\\d+)"),
    UaRule("QupZilla", "QupZilla/", "QupZilla/(\\d+)"),
    UaRule("Epiphany", "Epiphany/", "Epiphany/(\\d+)"),
    UaRule("Midori", "Midori/", "Midori/(\\d+)"),
    // headless / automation shells (HeadlessChrome, PhantomJS) carry
    // no rule here: SpiderRe above already claims their tokens, so the
    // whole bot class lands on family "Spider" — dedicated rules would
    // be dead code (RuleLintSpec proved exactly that in r12)
    // CN desktop shells riding a Chrome token
    UaRule("360 Secure Browser", "QIHU 360|\\b360(?:SE|EE)\\b"),
    // TheWorld tags a bare product name, no slash-version (tail round 9)
    UaRule("TheWorld", "TheWorld"),
    UaRule("Aloha Browser", "AlohaBrowser/", "AlohaBrowser/(\\d+)"),
    // Smooz (JP mobile shell) rides full Safari tokens (tail round 9)
    UaRule("Smooz", "Smooz/", "Smooz/(\\d+)"),
    UaRule("Ghostery", "Ghostery[:/ ]", "Ghostery[:/ ](\\d+)"),
    // hybrid-broadcast TV runtimes ride a Chrome token
    UaRule("HbbTV", "HbbTV/", "HbbTV/(\\d+)"),
    // set-top WebKit runtimes and the LG TV system browser (tail
    // round 9) — both carry Safari tokens, so pre-Safari
    UaRule("Espial", "Espial/", "Espial/(\\d+)"),
    UaRule("LG Browser", "LG Browser/", "LG Browser/(\\d+)"),
    // TV/cast runtimes that also carry Chrome tokens (tail round 6)
    UaRule("Chromecast", "CrKey/", "CrKey/(\\d+)"),
    UaRule("Samsung Smart TV", "SMART-TV.*Tizen"),
    // in-app webviews with their own tokens
    // Messenger carries FBAN/Messenger… tokens and must outrank the
    // generic Facebook rule directly below
    // Facebook Lite ships its own app token (FBAN/EMA) ahead of the
    // generic FBAN/ rule two below (tail round 7; RuleLintSpec's
    // negative control pins Messenger directly before Facebook, so
    // Lite sits above the pair)
    UaRule("Facebook Lite", "FBAN/EMA", "FBAV/(\\d+)"),
    UaRule("Facebook Messenger",
      "FBAN/Messenger|FB_IAB/MESSENGER|FBAN/MessengerLite",
      "FBAV/(\\d+)"),
    UaRule("Facebook", "FBAV/|FBAN/|FB_IAB/", "FBAV/(\\d+)"),
    UaRule("Instagram", "Instagram[ /]", "Instagram[ /](\\d+)"),
    // the Threads app's webview identifies by its internal codename
    UaRule("Threads", "\\bBarcelona\\b", "Barcelona (\\d+)"),
    // WeCom (WeChat Work) UAs carry MicroMessenger/ for webview compat,
    // so the wxwork token must outrank WeChat (tail round 7)
    UaRule("WeCom", "wxwork/", "wxwork/(\\d+)"),
    UaRule("WeChat", "MicroMessenger/", "MicroMessenger/(\\d+)"),
    UaRule("Line", "\\bLine/", "\\bLine/(\\d+)"),
    UaRule("KakaoTalk", "KAKAOTALK"),
    UaRule("Snapchat", "Snapchat/", "Snapchat/(\\d+)"),
    // Pinterest app UAs tag the platform, never a number ([Pinterest/iOS])
    UaRule("Pinterest", "Pinterest/"),
    UaRule("Twitter", "Twitter for iPhone|TwitterAndroid"),
    UaRule("LinkedIn", "LinkedInApp"),
    UaRule("TikTok", "musical_ly|Bytedance"),
    UaRule("DingTalk", "DingTalk/", "DingTalk/(\\d+)"),
    // ByteDance's Lark/Feishu desktop+mobile shells (tail round 7)
    UaRule("Lark", "\\bLark/", "\\bLark/(\\d+)"),
    UaRule("Alipay", "AliApp\\(AP/", "AliApp\\(AP/(\\d+)"),
    UaRule("Google Search App", "GSA/", "GSA/(\\d+)"),
    UaRule("DuckDuckGo Mobile", "DuckDuckGo/", "DuckDuckGo/(\\d+)"),
    UaRule("Ecosia", "Ecosia (?:android|ios)@", "Ecosia (?:android|ios)@(\\d+)"),
    UaRule("WhatsApp", "WhatsApp/", "WhatsApp/(\\d+)"),
    UaRule("QQ", "\\bQQ/\\d", "\\bQQ/(\\d+)"),
    UaRule("Yandex App", "YaApp_(?:Android|iOS)/|YandexSearch/",
      "YaApp_(?:Android|iOS)/(\\d+)"),
    UaRule("Flipboard", "Flipboard/", "Flipboard/(\\d+)"),
    // commerce/blog app webviews with documented tokens (tail round 9)
    UaRule("Tumblr", "Tumblr/", "Tumblr/(\\d+)"),
    UaRule("eBay", "eBay(?:Android|iPhone|iPad)/", "eBay(?:Android|iPhone|iPad)/(\\d+)"),
    UaRule("Etsy", "EtsyInc/", "EtsyInc/(\\d+)"),
    // tail round 10: official-app webviews with documented tokens
    UaRule("Wikipedia", "WikipediaApp/", "WikipediaApp/(\\d+)"),
    UaRule("Airbnb", "Airbnb/", "Airbnb/(\\d+)"),
    UaRule("SmartNews", "SmartNews/", "SmartNews/(\\d+)"),
    UaRule("Telegram", "Telegram-?(?:Android|iOS)?/", "Telegram-?(?:Android|iOS)?/(\\d+)"),
    UaRule("Reddit", "Reddit/", "Reddit/(?:Version )?(\\d+)"),
    UaRule("Outlook Mobile", "Outlook-(?:Android|iOS)/", "Outlook-(?:Android|iOS)/(\\d+)"),
    // Gmail's iOS in-app webview tags Gmail/<build> (tail round 7)
    UaRule("Gmail", "\\bGmail/", "\\bGmail/(\\d+)"),
    UaRule("Microsoft Outlook", "Microsoft Outlook", "Microsoft Outlook (\\d+)"),
    // Office webviews tag `ms-office` (and MSIE/Trident tokens, so this
    // must sit before the IE rule at the tail)
    UaRule("Microsoft Office", "ms-office", "MSOffice (\\d+)"),
    UaRule("YouTube", "com\\.google\\.android\\.youtube/",
      "com\\.google\\.android\\.youtube/(\\d+)"),
    UaRule("Taobao", "AliApp\\(TB/", "AliApp\\(TB/(\\d+)"),
    // AliExpress rides the same AliApp envelope (tail round 7)
    UaRule("AliExpress", "AliApp\\(AE/", "AliApp\\(AE/(\\d+)"),
    UaRule("Kuaishou", "Kwai/|ksNebula/", "(?:Kwai|ksNebula)/(\\d+)"),
    UaRule("Douyin", "aweme/", "aweme/(\\d+)"),
    UaRule("Zalo", "\\bZalo\\b"),
    UaRule("Weibo", "(?i)weibo", "(?i)weibo__(\\d+)"),
    UaRule("Xiaohongshu", "XHS/", "XHS/(\\d+)"),
    UaRule("JD App", "(?i)jdapp", ""),
    // tail round 6: Meituan (iOS token `imeituan/`) and the Bilibili
    // app webview (`BiliApp/<build>`); both ride Chrome/WebView tokens
    UaRule("Meituan", "imeituan/", "imeituan/(\\d+)"),
    UaRule("Bilibili", "(?i)BiliApp/", "(?i)BiliApp/(\\d+)"),
    UaRule("Yahoo Japan App", "jp\\.co\\.yahoo\\.(?:android|iphone)",
      "jp\\.co\\.yahoo\\.(?:android|iphone)[.\\w]*/(\\d+)"),
    UaRule("VK App", "VKAndroidApp/|VK iPhone", "VKAndroidApp/(\\d+)"),
    UaRule("Shopee", "Shopee"),
    UaRule("Naver App", "NAVER\\(inapp"),
    // Daum's app webview (KR; tail round 7)
    UaRule("Daum App", "DaumApps/", "DaumApps/(\\d+)"),
    // the Amazon Shopping app identifies as Amazon.com/<ver> (iOS
    // CFNetwork style) or carries the AmazonWebView envelope on
    // Android (tail round 7)
    UaRule("Amazon Shopping", "Amazon\\.com/|AmazonWebView",
      "Amazon\\.com/(\\d+)"),
    // the X5-engine browser proper — after every super-app shell above
    UaRule("QQ Browser", "M?QQBrowser/", "M?QQBrowser/(\\d+)"),
    // Focus/Klar ship as a WebView shell on Android (Focus/… next to
    // Chrome/…Mobile), so they must outrank the Chromium engine rules,
    // not sit in the Gecko block (RuleLintSpec r12)
    UaRule("Firefox Focus", "Focus/", "Focus/(\\d+)"),
    UaRule("Firefox Klar", "Klar/", "Klar/(\\d+)"),
    // iOS engine shells (Apple mandates WebKit; the token is the shell)
    UaRule("Chrome Mobile iOS", "CriOS/", "CriOS/(\\d+)"),
    UaRule("Firefox iOS", "FxiOS/", "FxiOS/(\\d+)"),
    // Chromium engines — the WebView token must precede Chrome Mobile
    UaRule("Chrome Mobile WebView", "; ?wv\\).*Chrome/", "Chrome/(\\d+)"),
    UaRule("Chrome Mobile", "Chrome/\\d[^)]*Mobile|CrMo/", "(?:Chrome|CrMo)/(\\d+)"),
    UaRule("Chromium", "Chromium/", "Chromium/(\\d+)"),
    UaRule("Chrome", "Chrome/", "Chrome/(\\d+)"),
    // Gecko lineage — forks and shells before Firefox itself.
    // SailfishBrowser UAs carry "Mobile ... Firefox/" so the shell must
    // also precede Firefox Mobile (RuleLintSpec r12)
    UaRule("Sailfish Browser", "SailfishBrowser/", "SailfishBrowser/(\\d+)"),
    UaRule("LibreWolf", "LibreWolf/", "LibreWolf/(\\d+)"),
    UaRule("Floorp", "Floorp/", "Floorp/(\\d+)"),
    UaRule("Firefox Mobile", "(?:Mobile|Tablet|Android).*Firefox/|Fennec/",
      "(?:Firefox|Fennec)/(\\d+)"),
    UaRule("SeaMonkey", "SeaMonkey/", "SeaMonkey/(\\d+)"),
    UaRule("Waterfox", "Waterfox/", "Waterfox/(\\d+)"),
    UaRule("Pale Moon", "PaleMoon/", "PaleMoon/(\\d+)"),
    UaRule("Basilisk", "Basilisk/", "Basilisk/(\\d+)"),
    UaRule("IceCat", "IceCat/", "IceCat/(\\d+)"),
    UaRule("Iceweasel", "Iceweasel/", "Iceweasel/(\\d+)"),
    UaRule("K-Meleon", "K-Meleon/", "K-Meleon/(\\d+)"),
    UaRule("Camino", "Camino/", "Camino/(\\d+)"),
    // tail round 8: historical Gecko shells whose UAs carry Firefox/
    UaRule("Flock", "Flock/", "Flock/(\\d+)"),
    UaRule("Galeon", "Galeon/", "Galeon/(\\d+)"),
    // tail round 10: Firefox forks (their UAs carry Firefox/, so
    // pre-Firefox), Mozilla's early names and mobile experiment, and
    // Gecko-era Mac/Emacs shells
    UaRule("Cyberfox", "Cyberfox/", "Cyberfox/(\\d+)"),
    UaRule("Comodo IceDragon", "IceDragon/", "IceDragon/(\\d+)"),
    UaRule("TenFourFox", "TenFourFox/", "TenFourFox/(\\d+)"),
    UaRule("Firebird", "Firebird/", "Firebird/(\\d+)"),
    UaRule("Phoenix", "\\bPhoenix/", "\\bPhoenix/(\\d+)"),
    UaRule("Minimo", "Minimo/", "Minimo/(\\d+)"),
    UaRule("Conkeror", "(?i)conkeror", "(?i)conkeror/(\\d+)"),
    UaRule("Classilla", "Classilla/"),
    UaRule("Thunderbird", "Thunderbird/", "Thunderbird/(\\d+)"),
    UaRule("Evolution", "Evolution/", "Evolution/(\\d+)"),
    UaRule("Lotus Notes", "Lotus-Notes/", "Lotus-Notes/(\\d+)"),
    UaRule("Firefox", "Firefox/", "Firefox/(\\d+)"),
    // WebKit shells that would otherwise fall through to Safari
    UaRule("DuckDuckGo", "\\bDdg/", "\\bDdg/(\\d+)"),
    UaRule("Dolphin", "Dolphin/", "Dolphin/(\\d+)"),
    // Qt/KDE WebKit shells (tail round 9)
    UaRule("Arora", "Arora/", "Arora/(\\d+)"),
    UaRule("Rekonq", "rekonq[/ ]", "rekonq/(\\d+)"),
    // tail round 10: keyboard-driven WebKit minimalists — their UAs
    // carry Safari tokens, so pre-Safari
    UaRule("Luakit", "(?i)luakit", "(?i)luakit/(\\d+)"),
    UaRule("Vimb", "vimb/", "vimb/(\\d+)"),
    UaRule("Nyxt", "Nyxt/", "Nyxt/(\\d+)"),
    UaRule("Uzbl", "(?i)\\buzbl\\b"),
    UaRule("Mercury", "Mercury/", "Mercury/(\\d+)"),
    UaRule("Sleipnir", "Sleipnir/", "Sleipnir/(\\d+)"),
    UaRule("WebPositive", "WebPositive/", "WebPositive/(\\d+)"),
    UaRule("Lunascape", "Lunascape[ /]", "Lunascape[ /](\\d+)"),
    UaRule("iCab", "iCab[ /]", "iCab[ /](\\d+)"),
    UaRule("OmniWeb", "OmniWeb/", "OmniWeb/v?(\\d+)"),
    UaRule("BlackBerry WebKit", "BB10|PlayBook", "Version/(\\d+)"),
    UaRule("BlackBerry", "BlackBerry", "BlackBerry\\d+/(\\d+)"),
    UaRule("Nokia Browser", "NokiaBrowser/|OviBrowser/",
      "(?:Nokia|Ovi)Browser/(\\d+)"),
    UaRule("NetFront", "NetFront/", "NetFront/(\\d+)"),
    UaRule("Skyfire", "Skyfire/", "Skyfire/(\\d+)"),
    UaRule("Kindle", "Kindle/", "Kindle/(\\d+)"),
    // console browsers + media-player/runtime UAs. NetFront NX is the
    // PS4/PS5 system browser (uap-core's family for "PlayStation <n>"
    // UAs); PS Vita deliberately falls through — its UA carries Silk/
    // and no bare digit, matching uap-core's Silk attribution
    UaRule("NetFront NX", "PlayStation \\d", "PlayStation \\d+/(\\d+)"),
    UaRule("Roku", "Roku/DVP", "Roku/DVP-(\\d+)"),
    UaRule("NintendoBrowser", "NintendoBrowser/", "NintendoBrowser/(\\d+)"),
    // the 3DS system browser predates the NintendoBrowser/ token — its
    // UA is "(Nintendo 3DS; …) Version/<build>" (tail round 10)
    UaRule("Nintendo 3DS Browser", "Nintendo 3DS", "Version/(\\d+)"),
    UaRule("AppleCoreMedia", "AppleCoreMedia/"),
    UaRule("VLC", "VLC/", "VLC/(\\d+)"),
    UaRule("Roblox", "Roblox/"),
    // the pre-Chrome Android stock browser: Version/ + Safari/ on an
    // Android UA with no Chrome token (the Chromium rules above
    // already consumed every Chrome-bearing UA — ordering stands in
    // for the negative lookahead RE2 lacks)
    UaRule("Android Browser", "Android.*Version/[\\d.]+.*Safari/", "Version/(\\d+)"),
    // Safari proper: Version/ present = Safari; an iDevice WITHOUT
    // Version/ is an embedded WKWebView (the uap-core family name)
    UaRule("Mobile Safari", "Version/[\\d.]+.*Mobile.*Safari/", "Version/(\\d+)"),
    UaRule("Safari", "Version/[\\d.]+.*Safari/", "Version/(\\d+)"),
    UaRule("Mobile Safari UI/WKWebView",
      "(?:iPhone|iPad|iPod).*AppleWebKit/.*Mobile/\\w+"),
    // trailing-edge and text-mode
    UaRule("IE Mobile", "IEMobile", "IEMobile[ /](\\d+)"),
    UaRule("IE", "MSIE |Trident/", "(?:MSIE |rv:)(\\d+)"),
    UaRule("Konqueror", "[Kk]onqueror/", "[Kk]onqueror/(\\d+)"),
    UaRule("Netscape", "Netscape6?/", "Netscape6?/(\\d+)"),
    UaRule("Lynx", "Lynx/", "Lynx/(\\d+)"),
    UaRule("w3m", "w3m/", "w3m/(\\d+)"),
    UaRule("ELinks", "ELinks[ /]", "ELinks[ /](\\d+)"),
    UaRule("Links", "Links \\(", "Links \\((\\d+)"),
    UaRule("NetSurf", "NetSurf/", "NetSurf/(\\d+)"),
    UaRule("Dillo", "Dillo/", "Dillo/(\\d+)"),
    // tail round 10: retro-platform natives still alive in NetSurf-era
    // logs — BeOS's system browser and the Amiga lineage
    UaRule("NetPositive", "NetPositive/", "NetPositive/(\\d+)"),
    UaRule("IBrowse", "IBrowse[ /]", "IBrowse[ /](\\d+)"),
    UaRule("AWeb", "AWeb/", "AWeb/(\\d+)"),
    UaRule("AmigaVoyager", "AmigaVoyager/", "AmigaVoyager/(\\d+)"),
    UaRule("OffByOne", "OffByOne"),
    UaRule("Obigo", "Obigo", "Obigo[- /]?[A-Z]?(\\d+)?"),
    // feature-phone browsers still common across prepaid handsets
    UaRule("Openwave", "UP\\.Browser/", "UP\\.Browser/(\\d+)"),
    UaRule("MAUI WAP Browser", "\\bMAUI\\b"))

  /** One OS rule: family, detection regex, and EITHER a version regex
    * (group 1 = major) or a literal marketing version (the Windows NT
    * table — uap-core maps NT 6.1 ⇒ "7" etc.). */
  final case class OsRule(family: String, detect: String,
      versionRe: String = "", literal: String = "")

  val oses: Seq[OsRule] = Seq(
    OsRule("Windows Phone", "Windows Phone", "Windows Phone (?:OS )?(\\d+)"),
    OsRule("Windows", "Windows NT 10\\.0", literal = "10"),
    OsRule("Windows", "Windows NT 6\\.3", literal = "8.1"),
    OsRule("Windows", "Windows NT 6\\.2", literal = "8"),
    OsRule("Windows", "Windows NT 6\\.1", literal = "7"),
    OsRule("Windows", "Windows NT 6\\.0", literal = "Vista"),
    OsRule("Windows", "Windows NT 5\\.[12]", literal = "XP"),
    OsRule("Windows CE", "Windows CE"),
    OsRule("Windows", "Windows"),
    OsRule("Chrome OS", "CrOS", "CrOS [a-z0-9_]+ (\\d+)"),
    OsRule("KaiOS", "KAIOS/", "KAIOS/(\\d+)"),
    OsRule("Tizen", "Tizen[ /]", "Tizen[ /](\\d+)"),
    // Apple's non-phone platforms carry their own tokens and must win
    // before the iDevice and Mac rules
    OsRule("tvOS", "Apple ?TV|tvOS", "tvOS (\\d+)"),
    OsRule("watchOS", "Watch ?OS|watchOS", "(?:Watch ?OS|watchOS)[ /](\\d+)"),
    // e-reader UAs say "Linux ... like Android ... Kindle/3.0" — the
    // slash-version token must win before the bare Android substring;
    // Kindle FIRE (real Android, no "Kindle/" token) still lands on
    // Android below, matching uap-core
    OsRule("Kindle", "Kindle/", "Kindle/(\\d+)"),
    // Huawei's post-Android platforms still carry an Android token for
    // webview compatibility — they must win before the Android rule
    // HarmonyOS UAs carry the bare platform token, no version number
    OsRule("HarmonyOS", "HarmonyOS"),
    OsRule("OpenHarmony", "OpenHarmony", "OpenHarmony (\\d+)"),
    OsRule("Android", "Android", "Android (\\d+)"),
    OsRule("iOS", "iPhone|iPad|iPod", "(?:iPhone OS|CPU OS) (\\d+)"),
    OsRule("Mac OS X", "Mac OS X", "Mac OS X (\\d+)"),
    // mobile/embedded Linuxes before the bare Linux fallback
    OsRule("Firefox OS",
      "\\((?:Mobile|Tablet);[^)]*rv:[\\d.]+\\) Gecko/[\\d.]+ Firefox/"),
    OsRule("Sailfish", "Sailfish"),
    OsRule("MeeGo", "MeeGo"),
    OsRule("Maemo", "Maemo"),
    // LG smart TVs spell it "Web0S" (digit zero) — same platform
    OsRule("webOS", "webOS|hpwOS|Web0S", "(?:webOS|hpwOS)/(\\d+)"),
    OsRule("Bada", "Bada[ /]", "Bada[ /](\\d+)"),
    OsRule("Symbian OS", "SymbianOS|Symbian/3|Series ?60|S60",
      "SymbianOS/(\\d+)"),
    OsRule("BlackBerry OS", "BlackBerry|BB10|PlayBook"),
    OsRule("Roku", "Roku/"),
    // consoles (Xbox stays Windows — its UA carries Windows NT 10.0,
    // which the NT table above already consumed; only the device differs)
    OsRule("PlayStation", "PlayStation \\d", "PlayStation \\d+/(\\d+)"),
    OsRule("Nintendo", "Nintendo (?:Switch|WiiU|3DS)"),
    OsRule("Fuchsia", "Fuchsia"),
    OsRule("RISC OS", "RISC OS"),
    // Haiku UAs say "Macintosh; Intel Haiku R1" — no "Mac OS X" token,
    // so ordering vs the Mac rule is not load-bearing, only the name is
    OsRule("Haiku", "Haiku"),
    // retro-computing platforms still in NetSurf/Firefox logs (tail
    // round 9)
    OsRule("AmigaOS", "Amiga"),
    OsRule("OS/2", "OS/2"),
    // desktop distributions before the bare Linux fallback
    OsRule("Ubuntu", "Ubuntu"),
    OsRule("Fedora", "Fedora"),
    OsRule("Debian", "Debian"),
    OsRule("Linux Mint", "Linux Mint"),
    OsRule("Arch Linux", "Arch Linux"),
    OsRule("CentOS", "CentOS"),
    OsRule("Red Hat", "Red Hat"),
    OsRule("openSUSE", "openSUSE|SUSE"),
    OsRule("Gentoo", "Gentoo"),
    OsRule("Slackware", "Slackware"),
    OsRule("Mageia", "Mageia"),
    OsRule("Manjaro", "Manjaro"),
    OsRule("FreeBSD", "FreeBSD"),
    OsRule("OpenBSD", "OpenBSD"),
    OsRule("NetBSD", "NetBSD"),
    OsRule("DragonFly", "DragonFly"),
    OsRule("Solaris", "SunOS"),
    OsRule("Linux", "Linux"))

  /** Android device model capture: `; <model> Build/` — the uap-core
    * generic-Android device pattern. */
  val AndroidModelRe: String = ";\\s*([^;)]+?)\\s+Build/"

  /** One device rule (uap-core device_parsers shape): first matching
    * `detect` wins; the family is `family` when set, otherwise
    * `prefix` + capture group 1 OF `detect` — detect doubles as the
    * capture regex so a rule can never match-then-fail-to-capture.
    * RE2-safe (no lookarounds) so the generated DuckDB twin runs the
    * identical patterns. */
  final case class DeviceRule(detect: String, family: String = "",
      prefix: String = "")

  /** Device table, first match wins. Order: Apple hardware (iOS UAs
    * never carry Android markers), TV/streaming hardware (an AFT would
    * also hit the generic model capture), Amazon tablets, then branded
    * Android models (uap-core's Samsung/Google/Xiaomi/Huawei/… block),
    * most with the model captured from the `; <model> Build/` or
    * `; <model>)` slot. The mapper appends the generic-Android and
    * desktop tails AFTER this table ([[AndroidModelRe]], Generic
    * Smartphone/Tablet, Other) and checks Spider BEFORE it. */
  val devices: Seq[DeviceRule] = Seq(
    // iPod touch UAs say "iPod touch; CPU iPhone OS …" — the iPod rule
    // must precede iPhone or it is unreachable (RuleLintSpec r12)
    DeviceRule("iPod", family = "iPod"),
    DeviceRule("iPhone", family = "iPhone"),
    DeviceRule("iPad", family = "iPad"),
    // TV / streaming sticks and boxes — the LG Web0S token must win
    // before the generic SmartTV capture (its UAs also say SmartTV)
    DeviceRule("Apple\\s?TV", family = "Apple TV"),
    DeviceRule("CrKey", family = "Chromecast"),
    DeviceRule("Roku", family = "Roku"),
    DeviceRule(";\\s*(AFT[A-Za-z0-9]+)[\\s);]", prefix = "Amazon Fire TV "),
    DeviceRule("Web0S", family = "LG Smart TV"),
    DeviceRule("SMART-TV|SmartTV", family = "Samsung Smart TV"),
    DeviceRule("BRAVIA", family = "Sony Bravia"),
    DeviceRule("SHIELD Android TV", family = "Nvidia Shield TV"),
    DeviceRule("VIDAA", family = "Hisense Smart TV"),
    DeviceRule("VIERA|Viera", family = "Panasonic Viera TV"),
    DeviceRule("NETTV/", family = "Philips Smart TV"),
    // VR headsets, handheld consoles, in-car browsers
    DeviceRule(";\\s*(Quest[^;)]*?)(?:\\s+Build/|[;)])", prefix = "Meta "),
    DeviceRule(";\\s*(PICO[^;)]*?)(?:\\s+Build/|[;)])", prefix = "Pico "),
    DeviceRule("Steam ?Deck", family = "Valve Steam Deck"),
    DeviceRule("Tesla/", family = "Tesla"),
    // consoles
    DeviceRule("PlayStation (\\d+)", prefix = "PlayStation "),
    DeviceRule("Xbox", family = "Xbox"),
    DeviceRule("Nintendo Switch", family = "Nintendo Switch"),
    // Amazon tablets (Silk UAs carry the KF code without Build/)
    DeviceRule(";\\s*(KF[A-Z]{2,}[A-Z0-9]*)", prefix = "Amazon Kindle Fire "),
    DeviceRule("Kindle", family = "Amazon Kindle"),
    // branded Android hardware, model captured
    DeviceRule(";\\s*(Surface Duo[^;)]*?)\\s+Build/", prefix = "Microsoft "),
    DeviceRule(";\\s*(SM-[A-Za-z0-9]+)", prefix = "Samsung "),
    DeviceRule(";\\s*(GT-[A-Za-z0-9]+)", prefix = "Samsung "),
    DeviceRule(";\\s*(Pixel[^;)]*?)\\s+Build/", prefix = "Google "),
    DeviceRule(";\\s*(Nexus [^;)]*?)\\s+Build/", prefix = "Google "),
    DeviceRule(";\\s*([A-Z]{3}-[A-Z0-9]+)\\s+Build/HUAWEI", prefix = "Huawei "),
    DeviceRule("HUAWEI\\s+([^;)]*?)\\s+Build/", prefix = "Huawei "),
    DeviceRule(";\\s*([A-Z]{3}-[A-Z0-9]+)\\s+Build/HONOR", prefix = "Honor "),
    DeviceRule(";\\s*((?:Mi|MI|Redmi|POCO)[^;)]*?)\\s+Build/", prefix = "Xiaomi "),
    // Xiaomi launch-code models: 5 digits then an alnum plant/variant code
    DeviceRule(";\\s*([0-9]{5}[A-Z0-9]{2,8})\\s+Build/", prefix = "Xiaomi "),
    DeviceRule(";\\s*(ONEPLUS[^;)]*?)\\s+Build/", prefix = "OnePlus "),
    DeviceRule(";\\s*(CPH[0-9]+)\\s+Build/", prefix = "Oppo "),
    DeviceRule(";\\s*[Vv]ivo\\s+([^;)]*?)\\s+Build/", prefix = "Vivo "),
    DeviceRule(";\\s*(moto[^;)]*?)\\s+Build/", prefix = "Motorola "),
    DeviceRule(";\\s*(Nokia[^;)]*?)\\s+Build/", prefix = ""),
    DeviceRule(";\\s*(XQ-[A-Z0-9]+)\\s+Build/", prefix = "Sony "),
    DeviceRule(";\\s*(SO-[A-Z0-9]+)\\s+Build/", prefix = "Sony "),
    DeviceRule(";\\s*(HTC[^;)]*?)\\s+Build/", prefix = ""),
    DeviceRule(";\\s*(ZTE[^;)]*?)\\s+Build/", prefix = ""),
    DeviceRule(";\\s*(LM-[A-Z0-9]+)\\s+Build/", prefix = "LG "),
    DeviceRule(";\\s*(RMX[0-9]+)\\s+Build/", prefix = "Realme "),
    // vivo launch codes appear with or WITHOUT a vivo token / Build slot
    DeviceRule(";\\s*(V[0-9]{4}[A-Z0-9]*)(?:[);]|\\s+Build/)", prefix = "Vivo "),
    DeviceRule(";\\s*(ASUS_[A-Za-z0-9]+)", prefix = "Asus "),
    // Lenovo models appear with AND without a Build/ slot — the tag
    // must stay out of the captured family either way
    DeviceRule(";\\s*(Lenovo[ -][^;)]*?)(?:\\s+Build/|[;)])", prefix = ""),
    DeviceRule(";\\s*(Infinix [^;)]*?)\\s+Build/", prefix = ""),
    DeviceRule(";\\s*(TECNO [^;)]*?)\\s+Build/", prefix = ""),
    DeviceRule(";\\s*(FP[3-6][a-z]?)\\s+Build/", prefix = "Fairphone "),
    // JioPhone KaiOS UAs carry "Mobile; LYF/F300B/…" with no Build slot
    DeviceRule(";\\s*LYF/([A-Za-z0-9]+)", prefix = "LYF "))

  /** One referrer rule: source name, host regex, medium. Order: email
    * hosts precede search (mail.google.com is email, not google
    * search) — the snowplow referers.yml layering. */
  final case class RefererRule(source: String, hostRe: String, medium: String)

  val referers: Seq[RefererRule] = Seq(
    // email providers
    RefererRule("gmail", "^mail\\.google\\.", "email"),
    RefererRule("outlook", "^outlook\\.|(^|\\.)live\\.com$", "email"),
    RefererRule("yahoo-mail", "^mail\\.yahoo\\.", "email"),
    RefererRule("yandex-mail", "^mail\\.yandex\\.", "email"),
    RefererRule("mail-ru", "^e\\.mail\\.ru$", "email"),
    RefererRule("aol-mail", "^mail\\.aol\\.", "email"),
    RefererRule("proton-mail", "^mail\\.proton\\.me$|(^|\\.)protonmail\\.com$", "email"),
    RefererRule("zoho-mail", "^mail\\.zoho\\.", "email"),
    RefererRule("gmx", "^(navigator-bs\\.gmx\\.|.*\\.mail\\.gmx\\.)|^gmx\\.(com|net|de)$", "email"),
    RefererRule("web-de", "^3c(-bap)?\\.web\\.de$|^web\\.de$", "email"),
    RefererRule("fastmail", "(^|\\.)fastmail\\.com$", "email"),
    RefererRule("orange-webmail", "^webmail\\.orange\\.", "email"),
    RefererRule("comcast-webmail", "(^|\\.)mail\\.comcast\\.net$", "email"),
    RefererRule("t-online", "^email\\.t-online\\.de$", "email"),
    RefererRule("qq-mail", "^mail\\.qq\\.com$", "email"),
    RefererRule("naver-mail", "^mail\\.naver\\.com$", "email"),
    RefererRule("libero-mail", "^mail\\.libero\\.it$", "email"),
    RefererRule("rambler-mail", "^mail\\.rambler\\.ru$", "email"),
    RefererRule("onet-poczta", "^poczta\\.onet\\.pl$", "email"),
    RefererRule("tutanota", "^app\\.tuta\\.com$|(^|\\.)tutanota\\.com$", "email"),
    RefererRule("hey", "^app\\.hey\\.com$", "email"),
    // email.seznam.cz must precede the seznam SEARCH rule below
    RefererRule("seznam-email", "^email\\.seznam\\.cz$", "email"),
    RefererRule("icloud-mail", "^mail\\.icloud\\.com$", "email"),
    RefererRule("netease-mail", "^mail\\.1(26|63)\\.com$", "email"),
    RefererRule("inbox-lv", "^(mail\\.)?inbox\\.lv$", "email"),
    // the portal webmail hosts must precede their brand's SEARCH rule
    RefererRule("wp-poczta", "^poczta\\.wp\\.pl$", "email"),
    RefererRule("interia-poczta", "^poczta\\.interia\\.pl$", "email"),
    // search engines; brand-subdomain products (Gemini, Google News,
    // Yahoo News, Tieba) must precede their brand's generic host rule
    RefererRule("gemini", "^gemini\\.google\\.com$", "search"),
    RefererRule("google-news", "^news\\.google\\.", "social"),
    RefererRule("yahoo-news", "^news\\.yahoo\\.", "social"),
    RefererRule("tieba", "^tieba\\.baidu\\.com$", "social"),
    // Yahoo's Q&A community sits on a yahoo.co.jp subdomain — before
    // the yahoo search rule (tail round 7)
    RefererRule("yahoo-chiebukuro", "^chiebukuro\\.yahoo\\.co\\.jp$", "social"),
    // ERNIE Bot lives on a baidu subdomain — before the baidu rule
    RefererRule("ernie-bot", "^yiyan\\.baidu\\.com$", "search"),
    RefererRule("google", "(^|\\.)google\\.", "search"),
    RefererRule("bing", "(^|\\.)bing\\.", "search"),
    RefererRule("yahoo", "(^|\\.)yahoo\\.", "search"),
    RefererRule("duckduckgo", "(^|\\.)duckduckgo\\.", "search"),
    RefererRule("yandex", "(^|\\.)yandex\\.|^ya\\.ru$", "search"),
    RefererRule("baidu", "(^|\\.)baidu\\.", "search"),
    RefererRule("ecosia", "(^|\\.)ecosia\\.", "search"),
    RefererRule("ask", "(^|\\.)ask\\.com$", "search"),
    RefererRule("aol", "(^|\\.)search\\.aol\\.|(^|\\.)aolsearch\\.", "search"),
    RefererRule("naver", "(^|\\.)search\\.naver\\.", "search"),
    RefererRule("daum", "(^|\\.)search\\.daum\\.", "search"),
    RefererRule("seznam", "(^|\\.)seznam\\.", "search"),
    RefererRule("qwant", "(^|\\.)qwant\\.", "search"),
    RefererRule("startpage", "(^|\\.)startpage\\.", "search"),
    RefererRule("sogou", "(^|\\.)sogou\\.", "search"),
    RefererRule("so", "(^|\\.)so\\.com$", "search"),
    RefererRule("rambler", "(^|\\.)rambler\\.", "search"),
    RefererRule("brave", "^search\\.brave\\.", "search"),
    RefererRule("mail-ru-search", "^go\\.mail\\.ru$", "search"),
    RefererRule("lycos", "(^|\\.)lycos\\.", "search"),
    RefererRule("excite", "(^|\\.)excite\\.", "search"),
    RefererRule("mojeek", "(^|\\.)mojeek\\.com$", "search"),
    RefererRule("kagi", "(^|\\.)kagi\\.com$", "search"),
    RefererRule("dogpile", "(^|\\.)dogpile\\.com$", "search"),
    RefererRule("webcrawler", "(^|\\.)webcrawler\\.com$", "search"),
    RefererRule("metager", "(^|\\.)metager\\.", "search"),
    RefererRule("searx", "(^|\\.)searx\\.", "search"),
    RefererRule("presearch", "(^|\\.)presearch\\.", "search"),
    RefererRule("onet", "^szukaj\\.onet\\.pl$", "search"),
    RefererRule("wp-pl", "^szukaj\\.wp\\.pl$", "search"),
    RefererRule("interia", "^szukaj\\.interia\\.pl$", "search"),
    RefererRule("virgilio", "^search\\.virgilio\\.it$", "search"),
    RefererRule("libero", "^arianna\\.libero\\.it$", "search"),
    RefererRule("goo", "^search\\.goo\\.ne\\.jp$", "search"),
    RefererRule("biglobe", "(^|\\.)search\\.biglobe\\.ne\\.jp$", "search"),
    RefererRule("najdi", "(^|\\.)najdi\\.si$", "search"),
    RefererRule("centrum", "^search\\.centrum\\.cz$", "search"),
    RefererRule("petal-search", "(^|\\.)petalsearch\\.com$", "search"),
    RefererRule("coccoc-search", "^coccoc\\.com$", "search"),
    RefererRule("you", "(^|\\.)you\\.com$", "search"),
    RefererRule("perplexity", "(^|\\.)perplexity\\.ai$", "search"),
    RefererRule("swisscows", "(^|\\.)swisscows\\.com$", "search"),
    RefererRule("chatgpt", "(^|\\.)chatgpt\\.com$", "search"),
    // AI assistants: a fast-growing real-traffic referrer class, classed
    // with the search medium like chatgpt/perplexity above
    RefererRule("claude", "(^|\\.)claude\\.ai$", "search"),
    RefererRule("copilot", "^copilot\\.microsoft\\.com$", "search"),
    RefererRule("deepseek", "^chat\\.deepseek\\.com$", "search"),
    RefererRule("mistral", "^chat\\.mistral\\.ai$", "search"),
    RefererRule("grok", "(^|\\.)grok\\.com$", "search"),
    RefererRule("meta-ai", "(^|\\.)meta\\.ai$", "search"),
    RefererRule("poe", "(^|\\.)poe\\.com$", "search"),
    RefererRule("phind", "(^|\\.)phind\\.com$", "search"),
    // CN AI assistants (tail round 6)
    RefererRule("doubao", "(^|\\.)doubao\\.com$", "search"),
    RefererRule("kimi", "(^|\\.)kimi\\.com$|^kimi\\.moonshot\\.cn$", "search"),
    RefererRule("qwen", "(^|\\.)qwen\\.ai$|^tongyi\\.aliyun\\.com$", "search"),
    RefererRule("chatglm", "(^|\\.)chatglm\\.cn$", "search"),
    // regional search portals
    RefererRule("nifty", "^search\\.nifty\\.com$", "search"),
    // tail round 7: Alibaba's mobile engine and ByteDance's search host
    // (so.toutiao.com must precede the toutiao social rule below)
    RefererRule("shenma", "(^|\\.)sm\\.cn$", "search"),
    RefererRule("toutiao-search", "^so\\.toutiao\\.com$", "search"),
    // social networks
    RefererRule("facebook-messenger", "(^|\\.)messenger\\.com$", "social"),
    RefererRule("facebook", "(^|\\.)facebook\\.|^fb\\.me$", "social"),
    RefererRule("twitter", "(^|\\.)twitter\\.|(^|\\.)t\\.co$|(^|\\.)x\\.com$", "social"),
    RefererRule("linkedin", "(^|\\.)linkedin\\.|^lnkd\\.in$", "social"),
    RefererRule("reddit", "(^|\\.)reddit\\.", "social"),
    RefererRule("instagram", "(^|\\.)instagram\\.", "social"),
    RefererRule("pinterest", "(^|\\.)pinterest\\.", "social"),
    RefererRule("youtube", "(^|\\.)youtube\\.|(^|\\.)youtu\\.be$", "social"),
    RefererRule("tiktok", "(^|\\.)tiktok\\.", "social"),
    RefererRule("vk", "(^|\\.)vk\\.com$", "social"),
    RefererRule("weibo", "(^|\\.)weibo\\.", "social"),
    RefererRule("tumblr", "(^|\\.)tumblr\\.", "social"),
    RefererRule("quora", "(^|\\.)quora\\.", "social"),
    RefererRule("threads", "(^|\\.)threads\\.net$", "social"),
    RefererRule("snapchat", "(^|\\.)snapchat\\.", "social"),
    RefererRule("whatsapp", "(^|\\.)whatsapp\\.", "social"),
    RefererRule("telegram", "(^|\\.)telegram\\.|^t\\.me$", "social"),
    RefererRule("twitch", "(^|\\.)twitch\\.tv$", "social"),
    RefererRule("mastodon", "(^|\\.)mastodon\\.", "social"),
    RefererRule("bluesky", "(^|\\.)bsky\\.app$", "social"),
    RefererRule("medium", "(^|\\.)medium\\.com$", "social"),
    RefererRule("hackernews", "^news\\.ycombinator\\.com$", "social"),
    RefererRule("github", "(^|\\.)github\\.com$", "social"),
    RefererRule("slack", "(^|\\.)slack\\.com$", "social"),
    RefererRule("discord", "(^|\\.)discord(app)?\\.com$|^discord\\.gg$", "social"),
    RefererRule("line", "(^|\\.)line\\.me$", "social"),
    RefererRule("kakao", "(^|\\.)kakao\\.com$", "social"),
    RefererRule("wechat", "(^|\\.)weixin\\.qq\\.com$", "social"),
    RefererRule("qzone", "(^|\\.)qzone\\.qq\\.com$", "social"),
    RefererRule("odnoklassniki", "(^|\\.)ok\\.ru$", "social"),
    RefererRule("douban", "(^|\\.)douban\\.com$", "social"),
    RefererRule("zhihu", "(^|\\.)zhihu\\.com$", "social"),
    RefererRule("bilibili", "(^|\\.)bilibili\\.com$", "social"),
    RefererRule("nicovideo", "(^|\\.)nicovideo\\.jp$", "social"),
    RefererRule("dailymotion", "(^|\\.)dailymotion\\.com$", "social"),
    RefererRule("vimeo", "(^|\\.)vimeo\\.com$", "social"),
    RefererRule("flickr", "(^|\\.)flickr\\.com$", "social"),
    RefererRule("meetup", "(^|\\.)meetup\\.com$", "social"),
    RefererRule("xing", "(^|\\.)xing\\.com$", "social"),
    RefererRule("nextdoor", "(^|\\.)nextdoor\\.com$", "social"),
    RefererRule("viber", "(^|\\.)viber\\.com$", "social"),
    RefererRule("substack", "(^|\\.)substack\\.com$", "social"),
    RefererRule("linktree", "^linktr\\.ee$", "social"),
    RefererRule("rumble", "(^|\\.)rumble\\.com$", "social"),
    RefererRule("kick", "(^|\\.)kick\\.com$", "social"),
    RefererRule("patreon", "(^|\\.)patreon\\.com$", "social"),
    RefererRule("xiaohongshu", "(^|\\.)xiaohongshu\\.com$", "social"),
    RefererRule("producthunt", "(^|\\.)producthunt\\.com$", "social"),
    RefererRule("lobsters", "^lobste\\.rs$", "social"),
    RefererRule("naver-blog", "^blog\\.naver\\.com$", "social"),
    RefererRule("naver-cafe", "^cafe\\.naver\\.com$", "social"),
    RefererRule("daum-cafe", "^cafe\\.daum\\.net$", "social"),
    RefererRule("douyin", "(^|\\.)douyin\\.com$", "social"),
    RefererRule("kuaishou", "(^|\\.)kuaishou\\.com$", "social"),
    // developer / creator / reader communities
    RefererRule("stackoverflow", "(^|\\.)stack(overflow|exchange)\\.com$", "social"),
    RefererRule("gitlab", "(^|\\.)gitlab\\.com$", "social"),
    RefererRule("bitbucket", "(^|\\.)bitbucket\\.org$", "social"),
    RefererRule("gitee", "(^|\\.)gitee\\.com$", "social"),
    RefererRule("codepen", "(^|\\.)codepen\\.io$", "social"),
    RefererRule("huggingface", "(^|\\.)huggingface\\.co$", "social"),
    RefererRule("kaggle", "(^|\\.)kaggle\\.com$", "social"),
    RefererRule("arxiv", "(^|\\.)arxiv\\.org$", "social"),
    RefererRule("devto", "(^|\\.)dev\\.to$", "social"),
    RefererRule("qiita", "(^|\\.)qiita\\.com$", "social"),
    RefererRule("zenn", "(^|\\.)zenn\\.dev$", "social"),
    RefererRule("note-jp", "(^|\\.)note\\.com$", "social"),
    RefererRule("ameblo", "(^|\\.)ameblo\\.jp$", "social"),
    RefererRule("hatena", "(^|\\.)hatena\\.ne\\.jp$", "social"),
    RefererRule("youku", "(^|\\.)youku\\.com$", "social"),
    RefererRule("iqiyi", "(^|\\.)iqiyi\\.com$", "social"),
    RefererRule("lemmy", "(^|\\.)lemmy\\.(world|ml)$", "social"),
    RefererRule("truthsocial", "(^|\\.)truthsocial\\.com$", "social"),
    RefererRule("wykop", "(^|\\.)wykop\\.pl$", "social"),
    RefererRule("flipboard-web", "(^|\\.)flipboard\\.com$", "social"),
    RefererRule("slashdot", "(^|\\.)slashdot\\.org$", "social"),
    RefererRule("pixiv", "(^|\\.)pixiv\\.net$", "social"),
    RefererRule("deviantart", "(^|\\.)deviantart\\.com$", "social"),
    RefererRule("behance", "(^|\\.)behance\\.net$", "social"),
    RefererRule("dribbble", "(^|\\.)dribbble\\.com$", "social"),
    RefererRule("getpocket", "(^|\\.)getpocket\\.com$", "social"),
    RefererRule("feedly", "(^|\\.)feedly\\.com$", "social"),
    RefererRule("inoreader", "(^|\\.)inoreader\\.com$", "social"),
    // tail round 6: meeting/chat platforms, news readers, RU/CN/KR/VN
    // communities, package registries, newsletter campaign hosts.
    // teams.live.com is deliberately NOT claimed here: the outlook
    // email rule owns (^|.)live.com$ higher up and personal-Teams
    // referrals through it are indistinguishable from webmail.
    RefererRule("ms-teams", "^teams\\.microsoft\\.com$", "social"),
    RefererRule("zoom", "(^|\\.)zoom\\.us$", "social"),
    RefererRule("skype-web", "(^|\\.)skype\\.com$", "social"),
    RefererRule("apple-news", "^apple\\.news$", "social"),
    RefererRule("smartnews", "(^|\\.)smartnews\\.com$", "social"),
    RefererRule("newsbreak", "(^|\\.)newsbreak\\.com$", "social"),
    RefererRule("rutube", "(^|\\.)rutube\\.ru$", "social"),
    RefererRule("odysee", "(^|\\.)odysee\\.com$", "social"),
    RefererRule("dzen", "(^|\\.)dzen\\.ru$", "social"),
    RefererRule("pikabu", "(^|\\.)pikabu\\.ru$", "social"),
    RefererRule("habr", "(^|\\.)habr\\.com$", "social"),
    RefererRule("naver-band", "(^|\\.)band\\.us$", "social"),
    RefererRule("zalo-web", "(^|\\.)zalo\\.me$", "social"),
    RefererRule("npm", "(^|\\.)npmjs\\.com$", "social"),
    RefererRule("fandom", "(^|\\.)fandom\\.com$", "social"),
    // tail round 7: CN/TW/KR/JP developer + community hosts, RU/legacy
    // blogs, image boards, ByteDance's news feed, and the remaining
    // package registries (the npm precedent above)
    RefererRule("toutiao", "(^|\\.)toutiao\\.com$", "social"),
    RefererRule("v2ex", "(^|\\.)v2ex\\.com$", "social"),
    RefererRule("juejin", "(^|\\.)juejin\\.cn$", "social"),
    RefererRule("csdn", "(^|\\.)csdn\\.net$", "social"),
    RefererRule("cnblogs", "(^|\\.)cnblogs\\.com$", "social"),
    RefererRule("dcard", "(^|\\.)dcard\\.tw$", "social"),
    RefererRule("ptt", "(^|\\.)ptt\\.cc$", "social"),
    RefererRule("tistory", "(^|\\.)tistory\\.com$", "social"),
    RefererRule("5ch", "(^|\\.)5ch\\.net$", "social"),
    RefererRule("gab", "(^|\\.)gab\\.com$", "social"),
    RefererRule("my-mail-ru", "^my\\.mail\\.ru$", "social"),
    RefererRule("livejournal", "(^|\\.)livejournal\\.com$", "social"),
    RefererRule("goodreads", "(^|\\.)goodreads\\.com$", "social"),
    RefererRule("imgur", "(^|\\.)imgur\\.com$", "social"),
    RefererRule("9gag", "(^|\\.)9gag\\.com$", "social"),
    RefererRule("pypi", "(^|\\.)pypi\\.org$", "social"),
    RefererRule("crates", "(^|\\.)crates\\.io$", "social"),
    RefererRule("rubygems", "(^|\\.)rubygems\\.org$", "social"),
    RefererRule("pkg-go-dev", "^pkg\\.go\\.dev$", "social"),
    RefererRule("nuget", "(^|\\.)nuget\\.org$", "social"),
    RefererRule("mvnrepository", "(^|\\.)mvnrepository\\.com$", "social"),
    // tail round 10: hosted-blog platforms (per-blog subdomains), KR/CN
    // dev communities, game/film communities, academic network
    RefererRule("blogger", "(^|\\.)blogspot\\.com$", "social"),
    RefererRule("wordpress", "(^|\\.)wordpress\\.com$", "social"),
    RefererRule("velog", "(^|\\.)velog\\.io$", "social"),
    RefererRule("jianshu", "(^|\\.)jianshu\\.com$", "social"),
    RefererRule("segmentfault", "(^|\\.)segmentfault\\.com$", "social"),
    RefererRule("oschina", "(^|\\.)oschina\\.net$", "social"),
    RefererRule("itch-io", "(^|\\.)itch\\.io$", "social"),
    RefererRule("steam-community", "(^|\\.)steamcommunity\\.com$", "social"),
    RefererRule("researchgate", "(^|\\.)researchgate\\.net$", "social"),
    RefererRule("letterboxd", "(^|\\.)letterboxd\\.com$", "social"),
    RefererRule("mailchimp",
      "^mailchi\\.mp$|(^|\\.)campaign-archive\\.com$|(^|\\.)list-manage\\.com$",
      "email"),
    // tail round 7: ESP click-tracking hosts (the mailchimp precedent)
    RefererRule("sendgrid", "(^|\\.)sendgrid\\.net$", "email"),
    RefererRule("mandrill", "(^|\\.)mandrillapp\\.com$", "email"),
    // tail round 10: newsletter platform (the substack precedent)
    RefererRule("beehiiv", "(^|\\.)beehiiv\\.com$", "email"))

  /** The detect (host) patterns of each table, in rule order. */
  val browserTable: RuleTable = RuleTable("browsers", browsers.map(_.detect))
  val osTable: RuleTable = RuleTable("oses", oses.map(_.detect))
  val deviceTable: RuleTable = RuleTable("devices", devices.map(_.detect))
  val refererTable: RuleTable = RuleTable("referers", referers.map(_.hostRe))

  /** The version capture patterns, indexed as their detect tables ("" =
    * none); a device's model is captured by its detect pattern. */
  val browserVersionTable: RuleTable = RuleTable("browser-versions", browsers.map(_.version))
  val osVersionTable: RuleTable = RuleTable("os-versions", oses.map(_.versionRe))
  val androidModelTable: RuleTable = RuleTable("android-model", Seq(AndroidModelRe))

  /** Search-term query parameters, tried in order (q: most engines,
    * p: yahoo, text: yandex, wd/word: baidu, query: naver/daum/seznam,
    * MT: goo). */
  val termParams: Seq[String] = Seq("q", "p", "text", "wd", "word", "query", "MT")
}
