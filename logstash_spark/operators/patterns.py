"""Grok base pattern library.

The reference distribution ships a pattern directory consumed by the grok
filter (plugin surface: rakelib/default_plugins.rb:34; tutorial usage
docs/tutorials/10-minute-walkthrough/apache-parse.conf). The definitions
below are written fresh from the publicly documented grok pattern syntax
(``NAME regex`` lines, ``%{NAME:capture:type}`` composition) covering the
subset our pipelines and tests use. Regexes are kept in the common subset of
Python ``re``, Java ``java.util.regex`` and RE2 so the same pattern text
drives the RE2 arrow engine, the Spark-expression engine and the DuckDB
oracle (the property tests add Python ``re`` as a third engine).
"""

BASE_PATTERNS: dict[str, str] = {
    # --- primitives ---
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"[+-]?(?:[0-9]+)",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "POSINT": r"[0-9]+",
    "NONNEGINT": r"[0-9]+",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    # --- network ---
    "IPV4": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "IPV6": r"[0-9A-Fa-f:.]{3,45}",
    "IP": r"(?:%{IPV4}|%{IPV6})",
    "HOSTNAME": r"[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # --- paths / urls ---
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_^\\-]*)+",
    "URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*",
    "URIPARAM": r"\?%{URIQUERY}",
    "URIPATHPARAM": r"%{URIPATH}(?:\?%{URIQUERY})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # --- dates ---
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # --- log lines ---
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "SYSLOGPROG": r"%{WORD:program}(?:\[%{POSINT:pid}\])?",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} "
        r"\[%{HTTPDATE:timestamp}\] "
        r"\"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "QS": r"%{QUOTEDSTRING}",
    # --- email / mac (public base-set names) ---
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+=:-]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # --- numbers ---
    "BASE16FLOAT": r"[+-]?(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)",
    # --- extra date/time shapes ---
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "TZ": r"(?:[APMCE][SD]T|UTC|GMT)",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "CISCOTIMESTAMP": r"%{MONTH} +%{MONTHDAY}(?: %{YEAR})? %{TIME}",
    # --- paths / tty / urn ---
    # WINPATH: no atomic group (the public set uses (?>...)) so the same
    # text stays valid in Python re, Java regex AND RE2 (module contract)
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+)?",
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9a-fA-F]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    # --- syslog line anatomy ---
    "PROG": r"[\w._/%-]+",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    # --- apache error logs ---
    "HTTPD20_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] "
        r"(?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:message}"
    ),
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module}:)?%{LOGLEVEL:loglevel}\] "
        r"\[pid %{POSINT:pid}(?::tid %{NUMBER:tid})?\] "
        r"(?:\[client %{IPORHOST:clientip}:%{POSINT:clientport}\] )?%{GREEDYDATA:message}"
    ),
    # --- cron ---
    "CRON_ACTION": r"[A-Z ]+",
    "CRONLOG": r"%{SYSLOGBASE} \(%{USER:user}\) %{CRON_ACTION:action} \(%{DATA:cron_message}\)",
}
