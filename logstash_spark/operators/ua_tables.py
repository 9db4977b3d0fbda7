"""Vendored user-agent classification tables (uap-core-shaped).

The reference's `useragent` filter (default_plugins.rb:45,
logstash-filter-useragent) wraps the public ua-parser database
(`regexes.yaml`): an ORDERED list of parser entries, first match wins,
split into user_agent_parsers / os_parsers / device_parsers sections.

This module carries a fresh, written-from-public-knowledge table in the
same shape — NOT a copy of regexes.yaml — wide enough to classify the
browsers, bots, tools, in-app webviews and rare/legacy families that
dominate a real web corpus. r5 breadth: ~290 UA / ~67 OS / ~55 device
entries spanning AI crawlers, SEO/monitoring fleets, feed readers,
regional Chromium derivatives, Gecko forks, package managers, media
players, smart-TV/console/car shells, phone-brand model extraction and
legacy/hobby OSes — the long tail that previously fell to 'Other'. Entry shape (a dict, mirroring uap-core's
keys where they exist):

    regex    detect regex (searched; may use (?i))              [required]
    family   family name; may contain '$1' = detect group 1     [required]
    version  SINGLE-capture version regex (group 1 = full dotted version)
    v_groups list of group indices INTO `regex` joined with '.'
             (uap-core convention: groups 2..4 = major.minor.patch)
    v1, v2   literal version overrides (uap-core v1_/v2_replacement)

Exactly one of version / v_groups / v1 should be set; none means the
family has no version (empty string, matching the plugin's behavior).

`load_uap_parsers(path)` loads a real uap-core `regexes.yaml` (if a user
drops one in) into this shape via the engine's vendored YAML reader, so
full-database fidelity is a config option, not a code change.

Patterns are Python `re` (compiled with re.ASCII), which is also the
engine the public Python ua-parser reads `regexes.yaml` with;
operators/enrich.py:useragent runs the three first-match cascades once per
distinct agent of each Arrow batch.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# user_agent_parsers — ORDER IS SEMANTICS (first match wins):
#   1. crawlers / bots (specific, then a generic '<name>bot/x.y' catch)
#   2. programmatic clients & test harnesses
#   3. iOS alternate browsers (CriOS/FxiOS/EdgiOS ship BEFORE Safari token)
#   4. in-app webviews / app browsers
#   5. derived Chromium browsers BEFORE the Chrome base token
#   6. Chrome variants, then Gecko forks BEFORE Firefox, then Safari
#   7. IE, legacy/terminal browsers, consoles
#   8. 'Other' catch-all
# --------------------------------------------------------------------------

UA_PARSERS: list[dict] = [
    # -- 1. crawlers / bots ------------------------------------------------
    {"family": "Googlebot-Image", "regex": r"Googlebot-Image", "version": r"Googlebot-Image/(\d+[\d.]*)"},
    {"family": "Googlebot", "regex": r"Googlebot", "version": r"Googlebot/(\d+[\d.]*)"},
    {"family": "AdsBot-Google", "regex": r"AdsBot-Google"},
    {"family": "Mediapartners-Google", "regex": r"Mediapartners-Google"},
    {"family": "APIs-Google", "regex": r"APIs-Google"},
    {"family": "Storebot-Google", "regex": r"Storebot-Google"},
    {"family": "bingbot", "regex": r"bingbot", "version": r"bingbot/(\d+[\d.]*)"},
    {"family": "msnbot", "regex": r"msnbot", "version": r"msnbot[\w-]*/(\d+[\d.]*)"},
    {"family": "BingPreview", "regex": r"BingPreview", "version": r"BingPreview/(\d+[\d.]*)"},
    {"family": "Yahoo! Slurp", "regex": r"Yahoo! Slurp"},
    {"family": "DuckDuckBot", "regex": r"DuckDuckBot", "version": r"DuckDuckBot/(\d+[\d.]*)"},
    {"family": "DuckDuckGo-Favicons-Bot", "regex": r"DuckDuckGo-Favicons-Bot"},
    {"family": "Baiduspider", "regex": r"Baiduspider", "version": r"Baiduspider[\w-]*/(\d+[\d.]*)"},
    {"family": "YandexBot", "regex": r"Yandex(?:Bot|Images|Video|Mobile)", "version": r"Yandex\w+/(\d+[\d.]*)"},
    {"family": "Sogou web spider", "regex": r"Sogou web spider", "version": r"Sogou web spider/(\d+[\d.]*)"},
    {"family": "Exabot", "regex": r"Exabot", "version": r"Exabot/(\d+[\d.]*)"},
    {"family": "SeznamBot", "regex": r"SeznamBot", "version": r"SeznamBot/(\d+[\d.]*)"},
    {"family": "PetalBot", "regex": r"PetalBot"},
    {"family": "Bytespider", "regex": r"Bytespider"},
    {"family": "GPTBot", "regex": r"GPTBot", "version": r"GPTBot/(\d+[\d.]*)"},
    {"family": "ChatGPT-User", "regex": r"ChatGPT-User", "version": r"ChatGPT-User/(\d+[\d.]*)"},
    {"family": "CCBot", "regex": r"CCBot", "version": r"CCBot/(\d+[\d.]*)"},
    {"family": "Amazonbot", "regex": r"Amazonbot", "version": r"Amazonbot/(\d+[\d.]*)"},
    {"family": "FacebookBot", "regex": r"facebookexternalhit|Facebot", "version": r"facebookexternalhit/(\d+[\d.]*)"},
    {"family": "Twitterbot", "regex": r"Twitterbot", "version": r"Twitterbot/(\d+[\d.]*)"},
    {"family": "LinkedInBot", "regex": r"LinkedInBot", "version": r"LinkedInBot/(\d+[\d.]*)"},
    {"family": "Pinterestbot", "regex": r"Pinterest(?:bot)?/", "version": r"Pinterest(?:bot)?/(\d+[\d.]*)"},
    {"family": "Slackbot", "regex": r"Slackbot", "version": r"Slackbot[\w -]*/?(\d+[\d.]*)"},
    {"family": "Discordbot", "regex": r"Discordbot", "version": r"Discordbot/(\d+[\d.]*)"},
    {"family": "TelegramBot", "regex": r"TelegramBot"},
    {"family": "WhatsApp", "regex": r"WhatsApp/", "version": r"WhatsApp/(\d+[\d.]*)"},
    {"family": "Applebot", "regex": r"Applebot", "version": r"Applebot/(\d+[\d.]*)"},
    {"family": "AhrefsBot", "regex": r"AhrefsBot", "version": r"AhrefsBot/(\d+[\d.]*)"},
    {"family": "SemrushBot", "regex": r"SemrushBot", "version": r"SemrushBot[\w-]*/?(\d+[\d.]*)"},
    {"family": "MJ12bot", "regex": r"MJ12bot", "version": r"MJ12bot/v?(\d+[\d.]*)"},
    {"family": "DotBot", "regex": r"DotBot", "version": r"DotBot/(\d+[\d.]*)"},
    {"family": "BLEXBot", "regex": r"BLEXBot", "version": r"BLEXBot/(\d+[\d.]*)"},
    {"family": "rogerbot", "regex": r"rogerbot", "version": r"rogerbot/(\d+[\d.]*)"},
    {"family": "UptimeRobot", "regex": r"UptimeRobot", "version": r"UptimeRobot/(\d+[\d.]*)"},
    {"family": "Pingdom", "regex": r"Pingdom", "version": r"Pingdom\.com_bot_version_(\d+[\d.]*)"},
    {"family": "StatusCake", "regex": r"StatusCake"},
    {"family": "ia_archiver", "regex": r"ia_archiver"},
    {"family": "archive.org_bot", "regex": r"archive\.org_bot"},
    {"family": "HeadlessChrome", "regex": r"HeadlessChrome", "version": r"HeadlessChrome/(\d+[\d.]*)"},
    {"family": "PhantomJS", "regex": r"PhantomJS", "version": r"PhantomJS/(\d+[\d.]*)"},
    # r5 breadth: search engines' secondary fleets + AI crawlers
    {"family": "Googlebot-News", "regex": r"Googlebot-News"},
    {"family": "Googlebot-Video", "regex": r"Googlebot-Video", "version": r"Googlebot-Video/(\d+[\d.]*)"},
    {"family": "Google-InspectionTool", "regex": r"Google-InspectionTool", "version": r"Google-InspectionTool/(\d+[\d.]*)"},
    {"family": "GoogleOther", "regex": r"GoogleOther"},
    {"family": "Google-Extended", "regex": r"Google-Extended"},
    {"family": "FeedFetcher-Google", "regex": r"Feedfetcher-Google"},
    {"family": "Google-Read-Aloud", "regex": r"Google-Read-Aloud"},
    {"family": "Google Favicon", "regex": r"Google Favicon"},
    {"family": "MojeekBot", "regex": r"MojeekBot", "version": r"MojeekBot/(\d+[\d.]*)"},
    {"family": "Qwantify", "regex": r"Qwantify", "version": r"Qwantify/(\d+[\d.]*)"},
    {"family": "SeekportBot", "regex": r"SeekportBot"},
    {"family": "ClaudeBot", "regex": r"ClaudeBot", "version": r"ClaudeBot/(\d+[\d.]*)"},
    {"family": "Claude-Web", "regex": r"Claude-Web"},
    {"family": "anthropic-ai", "regex": r"anthropic-ai"},
    {"family": "PerplexityBot", "regex": r"PerplexityBot", "version": r"PerplexityBot/(\d+[\d.]*)"},
    {"family": "YouBot", "regex": r"YouBot"},
    {"family": "cohere-ai", "regex": r"cohere-ai"},
    {"family": "OAI-SearchBot", "regex": r"OAI-SearchBot", "version": r"OAI-SearchBot/(\d+[\d.]*)"},
    {"family": "Meta-ExternalAgent", "regex": r"meta-externalagent", "version": r"meta-externalagent/(\d+[\d.]*)"},
    {"family": "Diffbot", "regex": r"Diffbot", "version": r"Diffbot/(\d+[\d.]*)"},
    # open-source crawler frameworks (research/archive fleets)
    {"family": "Heritrix", "regex": r"(?i)heritrix", "version": r"(?i)heritrix[/ ](\d+[\d.]*)"},
    {"family": "Apache Nutch", "regex": r"(?i)nutch", "version": r"(?i)nutch-?(\d+[\d.]*)"},
    {"family": "StormCrawler", "regex": r"StormCrawler", "version": r"StormCrawler[/ ](\d+[\d.]*)"},
    {"family": "Scrapy", "regex": r"Scrapy", "version": r"Scrapy/(\d+[\d.]*)"},
    {"family": "HTTrack", "regex": r"HTTrack", "version": r"HTTrack/(\d+[\d.]*)"},
    {"family": "wpull", "regex": r"wpull", "version": r"wpull/(\d+[\d.]*)"},
    # SEO / audit fleets
    {"family": "Screaming Frog SEO Spider", "regex": r"Screaming Frog SEO Spider", "version": r"Screaming Frog SEO Spider/(\d+[\d.]*)"},
    {"family": "SiteAuditBot", "regex": r"SiteAuditBot", "version": r"SiteAuditBot/(\d+[\d.]*)"},
    {"family": "DataForSeoBot", "regex": r"DataForSeoBot", "version": r"DataForSeoBot/(\d+[\d.]*)"},
    {"family": "SerpstatBot", "regex": r"(?i)serpstatbot", "version": r"(?i)serpstatbot/(\d+[\d.]*)"},
    {"family": "MegaIndex", "regex": r"MegaIndex", "version": r"MegaIndex\.ru/(\d+[\d.]*)"},
    {"family": "ZoominfoBot", "regex": r"ZoominfoBot"},
    # security / internet-measurement scanners
    {"family": "CensysInspect", "regex": r"CensysInspect", "version": r"CensysInspect/(\d+[\d.]*)"},
    {"family": "Expanse", "regex": r"Expanse"},
    {"family": "NetcraftSurveyAgent", "regex": r"NetcraftSurveyAgent", "version": r"NetcraftSurveyAgent/(\d+[\d.]*)"},
    {"family": "InternetMeasurement", "regex": r"InternetMeasurement", "version": r"InternetMeasurement/(\d+[\d.]*)"},
    # feed readers / link-preview fetchers
    {"family": "Feedly", "regex": r"Feedly", "version": r"Feedly/(\d+[\d.]*)"},
    {"family": "Feedbin", "regex": r"Feedbin"},
    {"family": "Inoreader", "regex": r"(?i)inoreader"},
    {"family": "NewsBlur", "regex": r"NewsBlur", "version": r"NewsBlur [\w ]*v(\d+[\d.]*)"},
    {"family": "FlipboardProxy", "regex": r"FlipboardProxy", "version": r"FlipboardProxy/(\d+[\d.]*)"},
    {"family": "SkypeUriPreview", "regex": r"SkypeUriPreview", "version": r"SkypeUriPreview Preview/(\d+[\d.]*)"},
    {"family": "redditbot", "regex": r"redditbot", "version": r"redditbot/(\d+[\d.]*)"},
    {"family": "Iframely", "regex": r"Iframely", "version": r"Iframely/(\d+[\d.]*)"},
    {"family": "Embedly", "regex": r"Embedly"},
    {"family": "Mastodon", "regex": r"Mastodon/", "version": r"Mastodon/(\d+[\d.]*)"},
    {"family": "Pleroma", "regex": r"Pleroma", "version": r"Pleroma (\d+[\d.]*)"},
    {"family": "Akkoma", "regex": r"Akkoma", "version": r"Akkoma (\d+[\d.]*)"},
    # page-performance / monitoring fleets
    {"family": "Chrome-Lighthouse", "regex": r"Chrome-Lighthouse"},
    {"family": "GTmetrix", "regex": r"GTmetrix"},
    {"family": "WebPageTest", "regex": r"PTST/", "version": r"PTST/(\d+[\d.]*)"},
    {"family": "Site24x7", "regex": r"Site24x7"},
    {"family": "NewRelicPinger", "regex": r"NewRelicPinger", "version": r"NewRelicPinger/(\d+[\d.]*)"},
    {"family": "DatadogSynthetics", "regex": r"DatadogSynthetics"},
    {"family": "Better Uptime", "regex": r"Better Uptime", "version": r"Better Uptime Bot [\w.]*?(\d+[\d.]*)"},
    {"family": "Uptime-Kuma", "regex": r"Uptime-Kuma", "version": r"Uptime-Kuma/(\d+[\d.]*)"},
    {"family": "Zabbix", "regex": r"Zabbix", "version": r"Zabbix (\d+[\d.]*)"},
    {"family": "Prometheus", "regex": r"Prometheus/", "version": r"Prometheus/(\d+[\d.]*)"},
    # generic '<Name>Bot/1.2' catch — AFTER the named bots, BEFORE browsers;
    # the '/\d' requirement keeps device tokens like 'CUBOT' from matching.
    {"family": "$1", "regex": r"(?i)\b([a-z][\w.-]{1,30}bot)/(\d+[\d.]*)", "v_groups": [2]},
    # -- 2. programmatic clients -------------------------------------------
    {"family": "curl", "regex": r"^curl/", "version": r"curl/(\d+[\d.]*)"},
    {"family": "Wget", "regex": r"^Wget/", "version": r"Wget/(\d+[\d.]*)"},
    {"family": "Python Requests", "regex": r"python-requests", "version": r"python-requests/(\d+[\d.]*)"},
    {"family": "Python-urllib", "regex": r"Python-urllib", "version": r"Python-urllib/(\d+[\d.]*)"},
    {"family": "Python aiohttp", "regex": r"Python/[\d.]+ aiohttp|aiohttp/", "version": r"aiohttp/(\d+[\d.]*)"},
    {"family": "Go-http-client", "regex": r"Go-http-client", "version": r"Go-http-client/(\d+[\d.]*)"},
    {"family": "okhttp", "regex": r"okhttp", "version": r"okhttp/(\d+[\d.]*)"},
    {"family": "Java", "regex": r"^Java/", "version": r"Java/(\d+[\d._]*)"},
    {"family": "Apache-HttpClient", "regex": r"Apache-HttpClient", "version": r"Apache-HttpClient/(\d+[\d.]*)"},
    {"family": "libwww-perl", "regex": r"libwww-perl", "version": r"libwww-perl/(\d+[\d.]*)"},
    {"family": "PHP", "regex": r"^PHP/|GuzzleHttp", "version": r"(?:PHP|GuzzleHttp)/(\d+[\d.]*)"},
    {"family": "Ruby", "regex": r"^Ruby|rest-client", "version": r"(?:Ruby|rest-client)/?(\d+[\d.]*)"},
    {"family": "Node.js", "regex": r"node-fetch|undici", "version": r"(?:node-fetch|undici)/(\d+[\d.]*)"},
    {"family": "axios", "regex": r"axios/", "version": r"axios/(\d+[\d.]*)"},
    {"family": "PostmanRuntime", "regex": r"PostmanRuntime", "version": r"PostmanRuntime/(\d+[\d.]*)"},
    {"family": "insomnia", "regex": r"insomnia/", "version": r"insomnia/(\d+[\d.]*)"},
    {"family": "Dalvik", "regex": r"^Dalvik/", "version": r"Dalvik/(\d+[\d.]*)"},
    # r5 breadth: more programmatic clients, package managers, media players
    {"family": "HTTPie", "regex": r"HTTPie", "version": r"HTTPie/(\d+[\d.]*)"},
    {"family": "python-httpx", "regex": r"python-httpx", "version": r"python-httpx/(\d+[\d.]*)"},
    {"family": "python-urllib3", "regex": r"python-urllib3", "version": r"python-urllib3/(\d+[\d.]*)"},
    {"family": "aria2", "regex": r"^aria2/", "version": r"aria2/(\d+[\d.]*)"},
    {"family": "rclone", "regex": r"rclone/", "version": r"rclone/v?(\d+[\d.]*)"},
    {"family": "git", "regex": r"^git/", "version": r"git/(\d+[\d.]*)"},
    {"family": "pip", "regex": r"^pip/", "version": r"pip/(\d+[\d.]*)"},
    {"family": "Homebrew", "regex": r"^Homebrew/", "version": r"Homebrew/(\d+[\d.]*)"},
    {"family": "npm", "regex": r"^npm/", "version": r"npm/(\d+[\d.]*)"},
    {"family": "Composer", "regex": r"^Composer/", "version": r"Composer/(\d+[\d.]*)"},
    {"family": "Apache-Maven", "regex": r"Apache-Maven", "version": r"Apache-Maven/(\d+[\d.]*)"},
    {"family": "Gradle", "regex": r"^Gradle/", "version": r"Gradle/(\d+[\d.]*)"},
    {"family": "Deno", "regex": r"^Deno/", "version": r"Deno/(\d+[\d.]*)"},
    {"family": "Bun", "regex": r"^Bun/", "version": r"Bun/(\d+[\d.]*)"},
    {"family": "got", "regex": r"\bgot/\d", "version": r"\bgot/(\d+[\d.]*)"},
    {"family": "reqwest", "regex": r"reqwest/", "version": r"reqwest/(\d+[\d.]*)"},
    {"family": "Java-http-client", "regex": r"Java-http-client", "version": r"Java-http-client/(\d+[\d.]*)"},
    {"family": "Faraday", "regex": r"Faraday", "version": r"Faraday v(\d+[\d.]*)"},
    {"family": "http.rb", "regex": r"http\.rb", "version": r"http\.rb/(\d+[\d.]*)"},
    {"family": "WinHTTP", "regex": r"WinHTTP"},
    {"family": "PowerShell", "regex": r"WindowsPowerShell", "version": r"WindowsPowerShell/(\d+[\d.]*)"},
    {"family": "Microsoft Office", "regex": r"Microsoft Office|ms-office", "version": r"Microsoft Office/(\d+[\d.]*)"},
    {"family": "yt-dlp", "regex": r"yt-dlp", "version": r"yt-dlp/(\d+[\d.]*)"},
    {"family": "VLC", "regex": r"VLC/", "version": r"VLC/(\d+[\d.]*)"},
    {"family": "FFmpeg", "regex": r"Lavf/", "version": r"Lavf/(\d+[\d.]*)"},
    {"family": "mpv", "regex": r"^mpv ", "version": r"mpv (\d+[\d.]*)"},
    {"family": "Kodi", "regex": r"Kodi/", "version": r"Kodi/(\d+[\d.]*)"},
    {"family": "AppleCoreMedia", "regex": r"AppleCoreMedia", "version": r"AppleCoreMedia/(\d+[\d.]*)"},
    {"family": "stagefright", "regex": r"stagefright", "version": r"stagefright/(\d+[\d.]*)"},
    {"family": "iTunes", "regex": r"iTunes/", "version": r"iTunes/(\d+[\d.]*)"},
    {"family": "Sonos", "regex": r"Sonos/", "version": r"Sonos/(\d+[\d.]*)"},
    {"family": "Overcast", "regex": r"Overcast/", "version": r"Overcast/(\d+[\d.]*)"},
    {"family": "Pocket Casts", "regex": r"PocketCasts", "version": r"PocketCasts/(\d+[\d.]*)"},
    {"family": "AntennaPod", "regex": r"AntennaPod", "version": r"AntennaPod/(\d+[\d.]*)"},
    {"family": "gPodder", "regex": r"gPodder", "version": r"gPodder/(\d+[\d.]*)"},
    # -- 3. iOS alternate browsers (their token precedes Safari's) ----------
    {"family": "Chrome Mobile iOS", "regex": r"CriOS/", "version": r"CriOS/(\d+[\d.]*)"},
    {"family": "Firefox iOS", "regex": r"FxiOS/", "version": r"FxiOS/(\d+[\d.]*)"},
    {"family": "Edge Mobile", "regex": r"EdgiOS/", "version": r"EdgiOS/(\d+[\d.]*)"},
    {"family": "Opera Mini", "regex": r"OPiOS/", "version": r"OPiOS/(\d+[\d.]*)"},
    {"family": "Google", "regex": r" GSA/", "version": r"GSA/(\d+[\d.]*)"},
    {"family": "Opera Touch", "regex": r"OPT/", "version": r"OPT/(\d+[\d.]*)"},
    {"family": "Firefox Focus", "regex": r"Focus/", "version": r"Focus/(\d+[\d.]*)"},
    {"family": "Firefox Klar", "regex": r"Klar/", "version": r"Klar/(\d+[\d.]*)"},
    {"family": "Ecosia", "regex": r"Ecosia", "version": r"Ecosia (?:ios|android)@(\d+[\d.]*)"},
    {"family": "Aloha Browser", "regex": r"AlohaBrowser", "version": r"AlohaBrowser/(\d+[\d.]*)"},
    # -- 4. in-app webviews / app browsers ----------------------------------
    {"family": "Facebook", "regex": r"FBAV/|FB_IAB", "version": r"FBAV/(\d+[\d.]*)"},
    {"family": "Instagram", "regex": r"Instagram", "version": r"Instagram (\d+[\d.]*)"},
    {"family": "LINE", "regex": r" Line/", "version": r"Line/(\d+[\d.]*)"},
    {"family": "WeChat", "regex": r"MicroMessenger", "version": r"MicroMessenger/(\d+[\d.]*)"},
    {"family": "Snapchat", "regex": r"Snapchat", "version": r"Snapchat/(\d+[\d.]*)"},
    {"family": "KakaoTalk", "regex": r"KAKAOTALK", "version": r"KAKAOTALK[/ ](\d+[\d.]*)"},
    {"family": "Naver", "regex": r"NAVER\(inapp", "version": r"search/(\d+[\d.]*)"},
    {"family": "TikTok", "regex": r"musical_ly|BytedanceWebview|trill", "version": r"(?:musical_ly|trill)[_/](\d+[\d.]*)"},
    {"family": "Twitter", "regex": r"Twitter for (?:iPhone|iPad|Android)"},
    {"family": "Pinterest App", "regex": r"Pinterest for (?:Android|iOS)"},
    {"family": "QQ", "regex": r" QQ/", "version": r" QQ/(\d+[\d.]*)"},
    {"family": "Baidu App", "regex": r"baiduboxapp", "version": r"baiduboxapp/(\d+[\d.]*)"},
    # -- 5. derived Chromium browsers BEFORE the Chrome base token -----------
    {"family": "Edge Mobile", "regex": r"EdgA/", "version": r"EdgA/(\d+[\d.]*)"},
    {"family": "Edge", "regex": r"Edge?/\d", "version": r"Edge?/(\d+[\d.]*)"},
    {"family": "Opera Mini", "regex": r"Opera Mini", "version": r"Opera Mini/(\d+[\d.]*)"},
    {"family": "Opera Mobile", "regex": r"Opera Mobi", "version": r"Version/(\d+[\d.]*)"},
    {"family": "Opera GX", "regex": r"OPX/", "version": r"OPX/(\d+[\d.]*)"},
    {"family": "Opera", "regex": r"OPR/", "version": r"OPR/(\d+[\d.]*)"},
    {"family": "Opera", "regex": r"Opera[/ ]", "version": r"Opera[/ ](\d+[\d.]*)"},
    {"family": "Yandex Browser", "regex": r"YaBrowser", "version": r"YaBrowser/(\d+[\d.]*)"},
    {"family": "Vivaldi", "regex": r"Vivaldi", "version": r"Vivaldi/(\d+[\d.]*)"},
    {"family": "Brave", "regex": r"Brave/", "version": r"Brave/(\d+[\d.]*)"},
    {"family": "Samsung Internet", "regex": r"SamsungBrowser", "version": r"SamsungBrowser/(\d+[\d.]*)"},
    {"family": "UC Browser", "regex": r"UCBrowser", "version": r"UCBrowser/(\d+[\d.]*)"},
    {"family": "MiuiBrowser", "regex": r"MiuiBrowser", "version": r"MiuiBrowser/(\d+[\d.]*)"},
    {"family": "HuaweiBrowser", "regex": r"HuaweiBrowser", "version": r"HuaweiBrowser/(\d+[\d.]*)"},
    {"family": "QQ Browser", "regex": r"QQBrowser", "version": r"QQBrowser/(\d+[\d.]*)"},
    {"family": "Whale", "regex": r"Whale/", "version": r"Whale/(\d+[\d.]*)"},
    {"family": "Maxthon", "regex": r"Maxthon", "version": r"Maxthon[/ ](\d+[\d.]*)"},
    {"family": "Sleipnir", "regex": r"Sleipnir", "version": r"Sleipnir/(\d+[\d.]*)"},
    # Vita/PSP shells carry a 'Silk/' engine token -> before Amazon Silk
    {"family": "PS Vita Browser", "regex": r"PlayStation Vita", "version": r"PlayStation Vita (\d+[\d.]*)"},
    {"family": "PSP Browser", "regex": r"PSP \(PlayStation Portable\)", "version": r"PSP \(PlayStation Portable\); (\d+[\d.]*)"},
    {"family": "Amazon Silk", "regex": r"Silk/", "version": r"Silk/(\d+[\d.]*)"},
    {"family": "Puffin", "regex": r"Puffin", "version": r"Puffin/(\d+[\d.]*)"},
    {"family": "DuckDuckGo Mobile", "regex": r"DuckDuckGo/", "version": r"DuckDuckGo/(\d+[\d.]*)"},
    {"family": "Coc Coc", "regex": r"coc_coc_browser", "version": r"coc_coc_browser/(\d+[\d.]*)"},
    {"family": "Iron", "regex": r"Iron/", "version": r"Iron/(\d+[\d.]*)"},
    {"family": "Electron", "regex": r"Electron/", "version": r"Electron/(\d+[\d.]*)"},
    # r5 breadth: regional Chromium derivatives (all carry a Chrome token,
    # so every one of these must precede the Chrome base entries)
    {"family": "360 Browser", "regex": r"360SE|360EE|QihooBrowser|QHBrowser", "version": r"QihooBrowser/(\d+[\d.]*)"},
    {"family": "2345Explorer", "regex": r"2345Explorer", "version": r"2345Explorer/(\d+[\d.]*)"},
    {"family": "Baidu Browser", "regex": r"BIDUBrowser", "version": r"BIDUBrowser[/ ](\d+[\d.]*)"},
    {"family": "LieBao", "regex": r"LBBROWSER|LieBaoFast", "version": r"LieBaoFast/(\d+[\d.]*)"},
    {"family": "Sogou Explorer", "regex": r"MetaSr", "version": r"MetaSr (\d+[\d.]*)"},
    {"family": "Quark", "regex": r"Quark/", "version": r"Quark/(\d+[\d.]*)"},
    {"family": "Vivo Browser", "regex": r"VivoBrowser", "version": r"VivoBrowser/(\d+[\d.]*)"},
    {"family": "HeyTap Browser", "regex": r"HeyTapBrowser", "version": r"HeyTapBrowser/(\d+[\d.]*)"},
    {"family": "Oppo Browser", "regex": r"OppoBrowser", "version": r"OppoBrowser/(\d+[\d.]*)"},
    {"family": "Meizu Browser", "regex": r"MZBrowser", "version": r"MZBrowser/(\d+[\d.]*)"},
    {"family": "Mint Browser", "regex": r"Mint Browser", "version": r"Mint Browser/(\d+[\d.]*)"},
    {"family": "Cent Browser", "regex": r"CentBrowser", "version": r"CentBrowser/(\d+[\d.]*)"},
    {"family": "Slimjet", "regex": r"Slimjet", "version": r"Slimjet/(\d+[\d.]*)"},
    {"family": "Comodo Dragon", "regex": r"Dragon/", "version": r"Dragon/(\d+[\d.]*)"},
    {"family": "Avast Secure Browser", "regex": r"Avast/", "version": r"Avast/(\d+[\d.]*)"},
    {"family": "AVG Secure Browser", "regex": r"AVG/", "version": r"AVG/(\d+[\d.]*)"},
    {"family": "CCleaner Browser", "regex": r"CCleaner/", "version": r"CCleaner/(\d+[\d.]*)"},
    {"family": "Ghostery", "regex": r"Ghostery:", "version": r"Ghostery:(\d+[\d.]*)"},
    {"family": "Oculus Browser", "regex": r"OculusBrowser", "version": r"OculusBrowser/(\d+[\d.]*)"},
    {"family": "Tesla Browser", "regex": r"Tesla/|QtCarBrowser", "version": r"Tesla/[\w.-]*?(\d+[\d.]*)"},
    {"family": "HbbTV", "regex": r"HbbTV/", "version": r"HbbTV/(\d+[\d.]*)"},
    # -- 6a. Chrome variants --------------------------------------------------
    {"family": "Chrome Mobile WebView", "regex": r"; wv\).*Chrome/\d[\d.]* Mobile", "version": r"Chrome/(\d+[\d.]*)"},
    {"family": "Chrome Mobile", "regex": r"Chrome/\d[\d.]* Mobile", "version": r"Chrome/(\d+[\d.]*)"},
    {"family": "Chromium", "regex": r"Chromium/", "version": r"Chromium/(\d+[\d.]*)"},
    {"family": "Chrome", "regex": r"Chrome/", "version": r"Chrome/(\d+[\d.]*)"},
    # -- 6b. Gecko forks BEFORE Firefox --------------------------------------
    {"family": "Pale Moon", "regex": r"PaleMoon", "version": r"PaleMoon/(\d+[\d.]*)"},
    {"family": "Waterfox", "regex": r"Waterfox", "version": r"Waterfox/(\d+[\d.]*)"},
    {"family": "Basilisk", "regex": r"Basilisk", "version": r"Basilisk/(\d+[\d.]*)"},
    {"family": "IceCat", "regex": r"IceCat", "version": r"IceCat/(\d+[\d.]*)"},
    {"family": "Iceweasel", "regex": r"Iceweasel", "version": r"Iceweasel/(\d+[\d.]*)"},
    {"family": "SeaMonkey", "regex": r"SeaMonkey", "version": r"SeaMonkey/(\d+[\d.]*)"},
    {"family": "Cyberfox", "regex": r"Cyberfox", "version": r"Cyberfox/(\d+[\d.]*)"},
    {"family": "LibreWolf", "regex": r"LibreWolf", "version": r"LibreWolf/(\d+[\d.]*)"},
    {"family": "Floorp", "regex": r"Floorp", "version": r"Floorp/(\d+[\d.]*)"},
    {"family": "Fennec", "regex": r"Fennec", "version": r"Fennec/(\d+[\d.]*)"},
    {"family": "K-Meleon", "regex": r"K-Meleon", "version": r"K-Meleon/(\d+[\d.]*)"},
    {"family": "Camino", "regex": r"Camino", "version": r"Camino/(\d+[\d.]*)"},
    {"family": "Flock", "regex": r"Flock", "version": r"Flock/(\d+[\d.]*)"},
    {"family": "Galeon", "regex": r"Galeon", "version": r"Galeon/(\d+[\d.]*)"},
    {"family": "TenFourFox", "regex": r"TenFourFox", "version": r"TenFourFox/(\d+[\d.]*)"},
    {"family": "Classilla", "regex": r"Classilla", "version": r"Classilla/(\d+[\d.]*)"},
    {"family": "Phoenix", "regex": r"Phoenix/", "version": r"Phoenix/(\d+[\d.]*)"},
    {"family": "Firebird", "regex": r"Firebird/", "version": r"Firebird/(\d+[\d.]*)"},
    {"family": "Thunderbird", "regex": r"Thunderbird", "version": r"Thunderbird/(\d+[\d.]*)"},
    {"family": "Firefox Mobile", "regex": r"(?:Android|Mobile).*Firefox/", "version": r"Firefox/(\d+[\d.]*)"},
    {"family": "Firefox", "regex": r"Firefox/", "version": r"Firefox/(\d+[\d.]*)"},
    # -- 6c. Safari ----------------------------------------------------------
    {"family": "Mobile Safari", "regex": r"Version/\d[\d.]* Mobile.*Safari", "version": r"Version/(\d+[\d.]*)"},
    {"family": "Safari", "regex": r"Version/\d[\d.]*.*Safari", "version": r"Version/(\d+[\d.]*)"},
    # iOS WebKit shell without a Version/ token (in-app WKWebView)
    {"family": "Mobile Safari UI/WKWebView", "regex": r"(?:iPhone|iPad|iPod).*AppleWebKit.*Mobile"},
    # -- 7. IE, legacy, consoles ----------------------------------------------
    {"family": "IE Mobile", "regex": r"IEMobile", "version": r"IEMobile/(\d+[\d.]*)"},
    {"family": "IE", "regex": r"Trident.*rv[: ]?11", "version": r"rv[: ]?(11\.[\d.]*)"},
    {"family": "IE", "regex": r"MSIE \d", "version": r"MSIE (\d+[\d.]*)"},
    {"family": "Konqueror", "regex": r"Konqueror", "version": r"Konqueror/(\d+[\d.]*)"},
    {"family": "Midori", "regex": r"Midori", "version": r"Midori/(\d+[\d.]*)"},
    {"family": "Epiphany", "regex": r"Epiphany", "version": r"Epiphany/(\d+[\d.]*)"},
    {"family": "Falkon", "regex": r"Falkon", "version": r"Falkon/(\d+[\d.]*)"},
    {"family": "NetSurf", "regex": r"NetSurf", "version": r"NetSurf/(\d+[\d.]*)"},
    {"family": "Lynx", "regex": r"Lynx", "version": r"Lynx/(\d+[\d.]*)"},
    {"family": "w3m", "regex": r"w3m", "version": r"w3m/(\d+[\d.]*)"},
    {"family": "ELinks", "regex": r"ELinks", "version": r"ELinks/(\d+[\d.]*)"},
    {"family": "Links", "regex": r"^Links ", "version": r"Links \((\d+[\d.]*)"},
    {"family": "Dillo", "regex": r"Dillo", "version": r"Dillo/(\d+[\d.]*)"},
    {"family": "BlackBerry WebKit", "regex": r"BB10|PlayBook", "version": r"Version/(\d+[\d.]*)"},
    {"family": "Kindle", "regex": r"Kindle/", "version": r"Kindle/(\d+[\d.]*)"},
    {"family": "NetFront", "regex": r"NetFront", "version": r"NetFront/(\d+[\d.]*)"},
    {"family": "Obigo", "regex": r"Obigo", "version": r"Obigo[/-]\w?(\d+[\d.]*)"},
    {"family": "PlayStation Browser", "regex": r"PlayStation \d", "version": r"PlayStation \d+/(\d+[\d.]*)"},
    {"family": "NintendoBrowser", "regex": r"NintendoBrowser", "version": r"NintendoBrowser/(\d+[\d.]*)"},
    {"family": "Valve Steam", "regex": r"Valve Steam"},
    {"family": "Roku", "regex": r"Roku/", "version": r"Roku/DVP-(\d+[\d.]*)"},
    # r5 breadth: more legacy / niche engines and device shells
    {"family": "Netscape", "regex": r"Netscape6?/", "version": r"Netscape6?/(\d+[\d.]*)"},
    {"family": "Netscape Navigator", "regex": r"Navigator/", "version": r"Navigator/(\d+[\d.]*)"},
    {"family": "Mosaic", "regex": r"NCSA[_ ]Mosaic", "version": r"Mosaic/(\d+[\d.]*)"},
    {"family": "iCab", "regex": r"iCab", "version": r"iCab[/ ](\d+[\d.]*)"},
    {"family": "OmniWeb", "regex": r"OmniWeb", "version": r"OmniWeb/v?(\d+[\d.]*)"},
    {"family": "Arora", "regex": r"Arora", "version": r"Arora/(\d+[\d.]*)"},
    {"family": "QupZilla", "regex": r"QupZilla", "version": r"QupZilla/(\d+[\d.]*)"},
    {"family": "qutebrowser", "regex": r"qutebrowser", "version": r"qutebrowser/(\d+[\d.]*)"},
    {"family": "Otter", "regex": r"Otter/", "version": r"Otter/(\d+[\d.]*)"},
    {"family": "Lunascape", "regex": r"Lunascape", "version": r"Lunascape[/ ](\d+[\d.]*)"},
    {"family": "Avant Browser", "regex": r"Avant Browser"},
    {"family": "WebTV", "regex": r"WebTV", "version": r"WebTV/(\d+[\d.]*)"},
    {"family": "IBrowse", "regex": r"IBrowse", "version": r"IBrowse[/ ](\d+[\d.]*)"},
    {"family": "Dolphin", "regex": r"Dolphin[/ ]", "version": r"Dolphin[/ ](\d+[\d.]*)"},
    # -- 8. catch-all ----------------------------------------------------------
    {"family": "Other", "regex": r".*"},
]

# --------------------------------------------------------------------------
# os_parsers — mobile/embedded first, then desktop; Windows NT kernel tokens
# map to MARKETING versions per the public ua-parser table.
# --------------------------------------------------------------------------

OS_PARSERS: list[dict] = [
    {"family": "Windows Phone", "regex": r"Windows Phone", "version": r"Windows Phone (?:OS )?(\d+[\d.]*)"},
    {"family": "KaiOS", "regex": r"KAIOS/", "version": r"KAIOS/(\d+[\d.]*)"},
    {"family": "iOS", "regex": r"(?:iPhone|iPad|iPod)", "version": r"(?:iPhone )?OS (\d+[_\d]*)"},
    {"family": "tvOS", "regex": r"Apple ?TV", "version": r"tvOS[/ ](\d+[\d.]*)"},
    # HarmonyOS/Sailfish/MeeGo UAs may carry an Android compat token, so
    # these must precede the Android entry
    {"family": "HarmonyOS", "regex": r"HarmonyOS", "version": r"HarmonyOS[/ ]?(\d+[\d.]*)"},
    {"family": "OpenHarmony", "regex": r"OpenHarmony", "version": r"OpenHarmony (\d+[\d.]*)"},
    {"family": "Sailfish", "regex": r"Sailfish", "version": r"Sailfish (\d+[\d.]*)"},
    {"family": "MeeGo", "regex": r"MeeGo", "version": r"MeeGo/(\d+[\d.]*)"},
    {"family": "Maemo", "regex": r"Maemo", "version": r"Maemo (\d+[\d.]*)"},
    {"family": "Bada", "regex": r"(?i)\bbada[/ ]", "version": r"(?i)bada[/ ](\d+[\d.]*)"},
    {"family": "Android", "regex": r"Android", "version": r"Android (\d+[.\d]*)"},
    {"family": "Tizen", "regex": r"Tizen", "version": r"Tizen[/ ](\d+[\d.]*)"},
    {"family": "webOS", "regex": r"(?:webOS|hpwOS)", "version": r"(?:webOS|hpwOS)/(\d+[\d.]*)"},
    {"family": "BlackBerry OS", "regex": r"BB10|BlackBerry", "version": r"Version/(\d+[\d.]*)"},
    {"family": "Symbian OS", "regex": r"Symbian|Series60|S60", "version": r"SymbianOS/(\d+[\d.]*)"},
    {"family": "Firefox OS", "regex": r"^Mozilla/5\.0 \((?:Mobile|Tablet); rv:", "version": r"rv:(\d+[\d.]*)"},
    {"family": "Mac OS X", "regex": r"Mac OS X", "version": r"Mac OS X (\d+[_.\d]*)"},
    {"family": "Chrome OS", "regex": r"CrOS", "version": r"CrOS [\w]+ (\d+[\d.]*)"},
    {"family": "Windows", "regex": r"Windows NT 10\.0", "v1": "10"},
    {"family": "Windows", "regex": r"Windows NT 6\.3", "v1": "8.1"},
    {"family": "Windows", "regex": r"Windows NT 6\.2", "v1": "8"},
    {"family": "Windows", "regex": r"Windows NT 6\.1", "v1": "7"},
    {"family": "Windows", "regex": r"Windows NT 6\.0", "v1": "Vista"},
    {"family": "Windows", "regex": r"Windows NT 5\.[12]", "v1": "XP"},
    {"family": "Windows", "regex": r"Windows NT 5\.0", "v1": "2000"},
    {"family": "Windows", "regex": r"Windows NT", "version": r"Windows NT (\d+[\d.]*)"},
    {"family": "Windows", "regex": r"Windows CE", "v1": "CE"},
    {"family": "Windows", "regex": r"Win(?:dows 98|98)", "v1": "98"},
    {"family": "Windows", "regex": r"Windows"},
    {"family": "Ubuntu", "regex": r"Ubuntu", "version": r"Ubuntu[/ ](\d+[\d.]*)"},
    {"family": "Fedora", "regex": r"Fedora", "version": r"Fedora[/ -](\d+)"},
    {"family": "Debian", "regex": r"Debian"},
    {"family": "openSUSE", "regex": r"openSUSE", "version": r"openSUSE[/ ](\d+[\d.]*)"},
    {"family": "Linux Mint", "regex": r"Linux Mint", "version": r"Linux Mint[/ ](\d+[\d.]*)"},
    {"family": "Arch Linux", "regex": r"Arch Linux"},
    {"family": "Gentoo", "regex": r"Gentoo"},
    {"family": "CentOS", "regex": r"CentOS", "version": r"\.el(\d+)[._]"},
    {"family": "Red Hat", "regex": r"Red Hat"},
    {"family": "Raspbian", "regex": r"Raspbian"},
    {"family": "Manjaro", "regex": r"Manjaro"},
    {"family": "Slackware", "regex": r"Slackware", "version": r"Slackware[/ ](\d+[\d.]*)"},
    {"family": "Mageia", "regex": r"Mageia", "version": r"Mageia[/ -](\d+)"},
    {"family": "elementary OS", "regex": r"elementary OS"},
    {"family": "FreeBSD", "regex": r"FreeBSD", "version": r"FreeBSD[/ ]?(\d+[\d.]*)"},
    {"family": "OpenBSD", "regex": r"OpenBSD", "version": r"OpenBSD[/ ]?(\d+[\d.]*)"},
    {"family": "NetBSD", "regex": r"NetBSD", "version": r"NetBSD[/ ]?(\d+[\d.]*)"},
    {"family": "DragonFly", "regex": r"DragonFly"},
    {"family": "Solaris", "regex": r"SunOS", "version": r"SunOS (\d+[\d.]*)"},
    {"family": "Haiku", "regex": r"Haiku"},
    {"family": "Fuchsia", "regex": r"Fuchsia"},
    # these ride on 'X11'/'Linux'-carrying UAs -> before the Linux catch
    {"family": "Chromecast", "regex": r"CrKey", "version": r"CrKey/(\d+[\d.]*)"},
    {"family": "GoogleTV", "regex": r"GoogleTV", "version": r"GoogleTV (\d+[\d.]*)"},
    {"family": "AIX", "regex": r"\bAIX\b", "version": r"AIX (\d+[\d.]*)"},
    {"family": "IRIX", "regex": r"IRIX", "version": r"IRIX(?:64)? (\d+[\d.]*)"},
    {"family": "HP-UX", "regex": r"HP-UX", "version": r"HP-UX [A-Z]?\.?(\d+[\d.]*)"},
    {"family": "SerenityOS", "regex": r"SerenityOS"},
    {"family": "Linux", "regex": r"Linux|X11"},
    {"family": "PlayStation", "regex": r"PlayStation (\d+)", "v_groups": [1]},
    {"family": "PlayStation Vita", "regex": r"PlayStation Vita", "version": r"PlayStation Vita (\d+[\d.]*)"},
    {"family": "Nintendo", "regex": r"Nintendo"},
    {"family": "Roku OS", "regex": r"Roku/DVP", "version": r"Roku/DVP-(\d+[\d.]*)"},
    # r5 breadth: legacy and hobby OSes
    {"family": "OS/2", "regex": r"OS/2|Warp"},
    {"family": "AmigaOS", "regex": r"AmigaOS", "version": r"AmigaOS (\d+[\d.]*)"},
    {"family": "RISC OS", "regex": r"RISC OS", "version": r"RISC OS (\d+[\d.]*)"},
    {"family": "BeOS", "regex": r"BeOS"},
    {"family": "ReactOS", "regex": r"ReactOS"},
    {"family": "Other", "regex": r".*"},
]

# --------------------------------------------------------------------------
# device_parsers — the plugin's third axis. Spiders collapse to 'Spider'
# (uap-core convention); phone/tablet models extract via $1 templates.
# --------------------------------------------------------------------------

DEVICE_PARSERS: list[dict] = [
    # 'bot' token must be followed by /, ), ; or - so device names ending in
    # 'bot' (e.g. CUBOT phones: 'CUBOT KINGKONG Build/...') don't collapse
    # to Spider. WhatsApp/Telegram link-preview fetchers count as spiders.
    {"family": "Spider", "regex": r"(?i)[\w.]*bot[-/);]|crawler|spider|slurp|archiver|pingdom|statuscake|bingpreview|mediapartners|facebookexternalhit|whatsapp/|telegrambot"},
    # r5 breadth: crawler/fetcher fleets whose tokens don't contain 'bot'
    {"family": "Spider", "regex": r"(?i)anthropic-ai|claude-web|cohere-ai|google-inspectiontool|googleother|google-extended|feedfetcher|google-read-aloud|google favicon|qwantify|heritrix|nutch|stormcrawler|scrapy|httrack|wpull|screaming frog|megaindex|censysinspect|expanse|netcraftsurveyagent|internetmeasurement|feedly|feedbin|inoreader|newsblur|flipboardproxy|skypeuripreview|iframely|embedly|mastodon/|pleroma|akkoma|chrome-lighthouse|gtmetrix|ptst/|site24x7|newrelicpinger|datadogsynthetics|uptime-kuma|better uptime|zabbix|prometheus/"},
    {"family": "iPhone", "regex": r"iPhone"},
    {"family": "iPad", "regex": r"iPad"},
    {"family": "iPod", "regex": r"iPod"},
    {"family": "Apple TV", "regex": r"Apple ?TV"},
    {"family": "Samsung $1", "regex": r"\((?:Linux;.*?)?\b(SM-[A-Z0-9]+)"},
    {"family": "Samsung $1", "regex": r"\b(GT-[A-Z0-9]+)"},
    {"family": "$1", "regex": r"\b(Pixel [\w]+)"},
    # r5 breadth: phone-brand model tokens (Build/-anchored where the
    # model is free text; bare model codes use their vendor prefixes)
    {"family": "Huawei $1", "regex": r"\b([A-Z]{3}-[A-Z]{2}\d{2})\b"},
    {"family": "Honor $1", "regex": r"\bHONOR ([\w-]+)"},
    {"family": "Xiaomi $1", "regex": r"; ((?:Redmi|POCO|Mi) [\w ]*?) Build/"},
    {"family": "Xiaomi $1", "regex": r"\b(M2\d{3}[A-Z0-9]{4,})\b"},
    {"family": "Xiaomi $1", "regex": r"\b(2\d{6}[A-Z0-9]{4,})\b"},
    {"family": "OnePlus $1", "regex": r"\bONEPLUS ([A-Z0-9]+)"},
    {"family": "Oppo $1", "regex": r"\b(CPH\d{4})\b"},
    {"family": "Vivo $1", "regex": r"\b[Vv]ivo ([\w]+)"},
    {"family": "Vivo $1", "regex": r"\b(V\d{4}[A-Z]{1,2})\b"},
    {"family": "Realme $1", "regex": r"\b(RMX\d{4})\b"},
    {"family": "Motorola $1", "regex": r"; (moto [\w ()]*?) Build/"},
    {"family": "Motorola $1", "regex": r"\b(XT\d{4}(?:-\d)?)\b"},
    {"family": "Nokia $1", "regex": r"\bNokia[ _]?([\w.]+)"},
    {"family": "Sony $1", "regex": r"\b(XQ-[A-Z0-9]+)\b"},
    {"family": "LG $1", "regex": r"\b(LM-[A-Z0-9]+|LG-[A-Z0-9]+)"},
    {"family": "HTC $1", "regex": r"; (HTC [\w ]*?) Build/"},
    {"family": "Asus $1", "regex": r"\bASUS_([\w-]+)"},
    {"family": "Lenovo $1", "regex": r"; Lenovo[ _]([\w-]+)"},
    {"family": "ZTE $1", "regex": r"\b(ZTE [\w-]+)"},
    {"family": "Tecno $1", "regex": r"\bTECNO ([\w-]+)"},
    {"family": "Infinix $1", "regex": r"\bInfinix ([\w-]+)"},
    {"family": "itel $1", "regex": r"\bitel ([\w-]+)"},
    {"family": "Fairphone $1", "regex": r"\b(FP[3-5][a-z]?)\b"},
    {"family": "CUBOT $1", "regex": r"\bCUBOT[ _]([\w-]+)"},
    # XR headsets, TVs, sticks, consoles, cars
    {"family": "Oculus Quest", "regex": r"Quest \d|OculusBrowser"},
    {"family": "NVIDIA Shield", "regex": r"SHIELD Android TV"},
    {"family": "Chromecast", "regex": r"CrKey"},
    {"family": "Fire TV", "regex": r"\bAFT[A-Z0-9]+\b"},
    {"family": "Samsung Smart TV", "regex": r"SMART-TV|SmartHub"},
    {"family": "LG Smart TV", "regex": r"Web0S|NetCast"},
    {"family": "Sony BRAVIA", "regex": r"BRAVIA"},
    {"family": "Xbox", "regex": r"Xbox"},
    {"family": "PlayStation Vita", "regex": r"PlayStation Vita"},
    {"family": "PSP", "regex": r"PlayStation Portable"},
    {"family": "Tesla", "regex": r"Tesla/|QtCarBrowser"},
    {"family": "Kobo", "regex": r"\bKobo\b"},
    {"family": "Kindle", "regex": r"Kindle|Silk/"},
    {"family": "BlackBerry", "regex": r"BB10|BlackBerry|PlayBook"},
    {"family": "Lumia", "regex": r"Lumia"},
    {"family": "PlayStation", "regex": r"PlayStation"},
    {"family": "Nintendo", "regex": r"Nintendo"},
    {"family": "Roku", "regex": r"Roku/"},
    {"family": "Generic Smartphone", "regex": r"Android.*Mobile|Windows Phone|IEMobile|Opera Mini|Opera Mobi"},
    {"family": "Generic Tablet", "regex": r"Android"},
    {"family": "Mac", "regex": r"Macintosh"},
    {"family": "Other", "regex": r".*"},
]


def load_uap_parsers(path: str) -> dict[str, list[dict]]:
    """Load a real uap-core `regexes.yaml` into this module's entry shape.

    uap-core conventions (public ua_parser implementations): family =
    family_replacement (with $1 = group 1) else group 1; version parts =
    v1_replacement else group 2, v2_replacement else group 3, group 4.
    Returns {'ua': [...], 'os': [...], 'device': [...]} consumable by
    operators.enrich.useragent(tables=...). Uses the engine's vendored
    block-YAML reader — no external deps.
    """
    from logstash_spark.operators.yamlfilter import yaml_to_obj

    with open(path, encoding="utf-8") as f:
        doc = yaml_to_obj(f.read())
    if not isinstance(doc, dict):
        raise ValueError("regexes.yaml: top level must be a mapping")

    import re as _re

    def conv(section: list, fam_key: str) -> list[dict]:
        out = []
        for e in section or []:
            entry: dict = {"regex": e["regex"], "family": e.get(fam_key) or "$1"}
            v1, v2 = e.get("v1_replacement"), e.get("v2_replacement")
            if v1 is not None:
                entry["v1"] = str(v1)
                if v2 is not None:
                    entry["v2"] = str(v2)
            else:
                # clip to the groups the regex actually has — Python's
                # Match.group raises on an out-of-range group index
                ngroups = _re.compile(e["regex"]).groups
                groups = [g for g in (2, 3, 4) if g <= ngroups]
                if groups:
                    entry["v_groups"] = groups
            out.append(entry)
        out.append({"family": "Other", "regex": r".*"})
        return out

    return {
        "ua": conv(doc.get("user_agent_parsers"), "family_replacement"),
        "os": conv(doc.get("os_parsers"), "os_replacement"),
        "device": conv(doc.get("device_parsers"), "device_replacement"),
    }
