"""Seeded input generator for the benchmark workloads.

Everything the program sees is produced here, before any timing starts,
and written as parquet in the pages schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Input properties (each run records them in its ``result.json``, ``info.input``):

- line mix 70/15/10/5 apache/kv/json/junk, exact per 100 rows, so the grok
  match ratio is 0.70;
- host skew as in ``synthetic_pages``: 20% of rows on host0, the rest
  spread over 997 hosts;
- agents drawn from a seeded Zipf (s=1.1) over ~3000 distinct
  family x version strings;
- ``warc_ts`` spread evenly over ``n_days`` days (default ``N_DAYS``).

The expected per-sink counts, aggregate totals, day count and distinct-agent
count are computed from the generator's own columns, never by running the
program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY0 = 1356998400  # 2013-01-01T00:00:00Z
N_DAYS = 8
MIX = {"apache": 70, "kv": 15, "json": 10, "junk": 5}
RESPONSES = np.array(["200", "200", "200", "301", "404", "500", "503"])
VERBS = np.array(["GET", "POST", "HEAD", "PUT"])
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
MONTHS = np.array(["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])
ZIPF_S = 1.1
HOT_HOST_SHARE = 0.2
# pages inputs are directories of this many files: one file gives one scan
# task per 4 MB (3 tasks for the flagship's 150k pages, 1 for a job day), and
# a pass then runs on fewer cores than local[N] offers, differently each run
INPUT_FILES = 16


def agent_vocabulary() -> list[str]:
    """~3000 distinct user-agent strings: 12 families x ~250 versions."""
    chrome = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{M}.0.{b}.{p} Safari/537.36"
    families = [
        lambda M, b, p: chrome.format(M=M, b=b, p=p),
        lambda M, b, p: f"Mozilla/5.0 (X11; Linux x86_64; rv:{M}.0) Gecko/20100101 Firefox/{M}.{p % 10}",
        lambda M, b, p: f"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_{p % 8}) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{M % 20}.{p % 10} Safari/605.1.15",
        lambda M, b, p: f"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{M}.0.0.0 Safari/537.36 Edg/{M}.0.{b}.{p}",
        lambda M, b, p: f"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{M}.0.0.0 Safari/537.36 OPR/{M - 14}.0.{b}.{p}",
        lambda M, b, p: f"Mozilla/5.0 (Linux; Android {10 + p % 5}; Pixel {p % 8}) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{M}.0.{b}.{p} Mobile Safari/537.36",
        lambda M, b, p: f"Mozilla/5.0 (iPhone; CPU iPhone OS {M % 20}_{p % 10} like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{M % 20}.{p % 10} Mobile/15E148 Safari/604.1",
        lambda M, b, p: f"Mozilla/5.0 (Linux; Android {10 + p % 5}; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/{M % 30}.{p % 10} Chrome/{M}.0.0.0 Mobile Safari/537.36",
        lambda M, b, p: f"Mozilla/5.0 (compatible; Googlebot/2.{p}; +http://www.google.com/bot.html)",
        lambda M, b, p: f"Mozilla/5.0 (compatible; bingbot/2.{p}; +http://www.bing.com/bingbot.htm)",
        lambda M, b, p: f"curl/{M % 9}.{b % 20}.{p % 10}",
        lambda M, b, p: f"python-requests/2.{b % 40}.{p % 10}",
    ]
    out: list[str] = []
    seen: set[str] = set()
    for k, fam in enumerate(families):
        n = 0
        for v in range(4000):
            s = fam(60 + v % 70, 1000 + (v * 37 + k) % 5000, v)
            if s not in seen:
                seen.add(s)
                out.append(s)
                n += 1
            if n == 250:
                break
    return out


def _exact_mix(rng: np.random.Generator, n: int, weights: list[int]) -> np.ndarray:
    """Category codes with exact per-100 proportions, shuffled by the seed."""
    pattern = np.repeat(np.arange(len(weights)), weights)
    codes = np.resize(pattern, n)
    rng.shuffle(codes)
    return codes


def _s(a) -> pa.Array:
    return pa.array(a, pa.string()) if not isinstance(a, pa.Array) else a


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*[_s(p) if not isinstance(p, str) else p for p in parts], "")


def make_pages(seed: int, n: int, first_id: int = 0, vocab: np.ndarray | None = None,
               n_days: int = N_DAYS) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """``n`` pages rows for ``seed``, ids from ``first_id``; returns the table
    and the generator's own per-row columns used to compute expected
    results. The agent Zipf's rank order depends on ``seed`` only."""
    vocab = np.array(agent_vocabulary()) if vocab is None else vocab
    rank_to_agent = np.random.default_rng(seed).permutation(len(vocab))
    rng = np.random.default_rng([seed, first_id])
    ids = np.arange(first_id, first_id + n)
    kind = _exact_mix(rng, n, list(MIX.values()))
    hot = _exact_mix(rng, n, [int(HOT_HOST_SHARE * 100), 100 - int(HOT_HOST_SHARE * 100)]) == 0
    host = np.where(hot, 0, rng.integers(0, 997, n))
    day = np.resize(np.arange(n_days), n)
    rng.shuffle(day)
    secs = DAY0 + day * 86400 + rng.integers(0, 86400, n)
    octets = rng.integers(0, 256, (n, 4))
    octets[:, 0] = rng.integers(1, 224, n)
    resp = RESPONSES[rng.integers(0, len(RESPONSES), n)]
    verb = VERBS[rng.integers(0, len(VERBS), n)]
    nbytes = rng.integers(0, 50000, n)
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    pz = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
    agent_idx = rank_to_agent[rng.choice(len(vocab), n, p=pz / pz.sum())]

    ts_struct = secs.astype("datetime64[s]")
    y = ts_struct.astype("datetime64[Y]").astype(int) + 1970
    mo = ts_struct.astype("datetime64[M]").astype(int) % 12
    dd = (ts_struct.astype("datetime64[D]") - ts_struct.astype("datetime64[M]")).astype(int) + 1
    sod = secs % 86400
    httpts = np.char.add(
        np.char.add(np.char.zfill(dd.astype(str), 2), "/"),
        np.char.add(np.char.add(MONTHS[mo], "/"), y.astype(str)),
    )
    hms = [np.char.zfill(x.astype(str), 2) for x in (sod // 3600, sod // 60 % 60, sod % 60)]
    httpts = _join(httpts, ":", hms[0], ":", hms[1], ":", hms[2], " +0000")
    ip = _join(*[x for k in range(4) for x in ((".",) if k else ()) + (octets[:, k].astype(str),)])
    path = _join("/p/", ids.astype(str))
    ref = _join("http://ref", (ids % 10).astype(str), ".example.com/")
    agent = _s(vocab[agent_idx])
    nb = nbytes.astype(str)
    apache = _join(ip, " - - [", httpts, '] "', verb, " ", path, ' HTTP/1.1" ', resp, " ", nb, ' "', ref, '" "', agent, '"')
    kv = _join("src=", ip, " dst=10.0.0.", (ids % 250).astype(str), " action=",
               np.where(ids % 2 == 0, "allow", "deny"), " bytes=", nb)
    js = _join('{"user":{"name":"u', (ids % 1000).astype(str), '"},"status":', resp, ',"tags":["a","b"]}')
    junk = _join("lorem ipsum dolor ", ids.astype(str), " sit amet")
    text = pc.choose(pa.array(kind, pa.int8()), apache, kv, js, junk)
    url = _join("https://host", host.astype(str), ".example.com", path)
    html = pc.cast(_join("<html><body><p>", text, "</p></body></html>"), pa.binary())
    table = pa.table({
        "url": url,
        "warc_ts": pa.array(secs * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text,
        "lang": _s(lang),
    })
    cols = {
        "kind": kind, "day": day, "secs": secs, "resp": resp, "nbytes": nbytes,
        "lang": lang, "agent": agent_idx, "host": host, "octets": octets,
    }
    return table, cols


def expected_counts(cols: dict[str, np.ndarray]) -> dict:
    """Per-sink counts and aggregate totals, from the generator's columns."""
    apache = cols["kind"] == 0
    err = apache & np.char.startswith(cols["resp"].astype(str), "5")
    # the flagship's geo dimension covers every /16 block with an even index
    geo_hit = apache & ((cols["octets"][:, 0] * 256 + cols["octets"][:, 1]) % 2 == 0)
    days = {}
    for d in sorted(set(cols["day"].tolist())):
        m = cols["day"] == d
        day = str(np.datetime64(DAY0 + d * 86400, "s").astype("datetime64[D]"))
        days[day] = {"rows_in": int(m.sum()), "errors": int((m & err).sum()), "ok": int((m & ~err).sum())}
    route = np.where(err, "errors", np.where(apache, "ok", "unparsed"))
    flagship = {}
    for sink in ("errors", "ok", "unparsed"):
        m = route == sink
        flagship[sink] = {
            "n": int(m.sum()),
            "total_bytes": int(cols["nbytes"][m].sum()) if sink != "unparsed" else None,
            "geo_hits": int((m & geo_hit).sum()),
            "first_ts": int(cols["secs"][m].min()) if sink != "unparsed" and m.any() else None,
            "last_ts": int(cols["secs"][m].max()) if sink != "unparsed" and m.any() else None,
        }
    job_agg = {}
    for sink, m in (("errors", err), ("ok", ~err)):
        for lg in sorted(set(cols["lang"].tolist())):
            job_agg[f"{sink}|{lg}"] = int((m & (cols["lang"] == lg)).sum())
    return {
        "rows": int(len(cols["kind"])),
        "sinks": {"errors": int(err.sum()), "ok": int((~err).sum())},
        "days": days,
        "job_agg": job_agg,
        "flagship": flagship,
        "grok_match_ratio": float(apache.mean()),
        "geo_hit_ratio": float(geo_hit.mean()),
        "distinct_agents": int(len(np.unique(cols["agent"]))),
        "hot_host_share": float((cols["host"] == 0).mean()),
        "line_mix": {k: float((cols["kind"] == i).mean()) for i, k in enumerate(MIX)},
    }


def write_pages(seed: int, n: int, path: str, *, n_days: int = N_DAYS) -> dict:
    """Write ``n`` pages for ``seed`` to the directory ``path`` as
    ``INPUT_FILES`` equal parquet files, and return the expected results."""
    table, cols = make_pages(seed, n, n_days=n_days)
    os.makedirs(path, exist_ok=True)
    step = -(-n // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    exp = expected_counts(cols)
    exp["seed"] = seed
    return exp


def write_stream_files(seed: int, n_files: int, rows_per_file: int, staging: str) -> list[dict]:
    """Stage ``n_files`` parquet files of ``rows_per_file`` pages each.
    Returns, per file, its name, row count and url set's expected split."""
    os.makedirs(staging, exist_ok=True)
    out = []
    vocab = np.array(agent_vocabulary())
    for k in range(n_files):
        table, cols = make_pages(seed, rows_per_file, first_id=k * rows_per_file, vocab=vocab)
        name = f"part-{k:05d}.parquet"
        pq.write_table(table, os.path.join(staging, name))
        exp = expected_counts(cols)
        out.append({"name": name, "first_id": k * rows_per_file, "rows": rows_per_file, "sinks": exp["sinks"]})
    return out

