"""The output checker decides which operations failed: it must pass the
program's real output shape and turn red on a wrong expected count."""

import copy
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _job_output(tmp_path, seed=3, n=700):
    """What a correct job invocation writes, derived from the generator."""
    table, cols = gen.make_pages(seed, n, n_days=2)
    exp = gen.expected_counts(cols)
    out = tmp_path / "out"
    err = (cols["kind"] == 0) & (cols["resp"].astype(str) >= "5")
    _write(str(out / "errors"), table.filter(pa.array(err)))
    _write(str(out / "ok"), table.filter(pa.array(~err)))
    agg = {"sink": [], "lang": [], "n": []}
    for key, n_ in exp["job_agg"].items():
        s, lg = key.split("|")
        agg["sink"].append(s), agg["lang"].append(lg), agg["n"].append(n_)
    _write(str(out / "agg"), pa.table(agg))
    with open(out / "lineage.jsonl", "w") as f:
        for day, e in exp["days"].items():
            rec = {"partition": day, "status": "done", "rows_in": e["rows_in"],
                   "rows_out": {"errors": e["errors"], "ok": e["ok"]}, "wall_s": 1.0, "ts": 0.0}
            f.write(json.dumps(rec) + "\n")
    return str(out), exp


def test_expected_counts_follow_the_input_properties():
    _, cols = gen.make_pages(5, 10_000)
    exp = gen.expected_counts(cols)
    assert exp["line_mix"] == {"apache": 0.7, "kv": 0.15, "json": 0.1, "junk": 0.05}
    assert exp["grok_match_ratio"] == 0.7
    assert len(exp["days"]) == gen.N_DAYS and exp["rows"] == 10_000
    assert 0.19 < exp["hot_host_share"] < 0.21
    assert 500 < exp["distinct_agents"] < len(gen.agent_vocabulary())
    assert exp["sinks"]["errors"] + exp["sinks"]["ok"] == 10_000


def test_same_seed_same_inputs():
    a, _ = gen.make_pages(9, 300)
    b, _ = gen.make_pages(9, 300)
    c, _ = gen.make_pages(10, 300)
    assert a.equals(b) and not a.equals(c)


def test_job_pass_green_then_red_on_a_wrong_expected_count(tmp_path):
    out, exp = _job_output(tmp_path)
    n, failed, problems = check.check_job_pass(out, os.path.join(out, "lineage.jsonl"), exp)
    assert (n, failed, problems) == (2, [], [])
    wrong = copy.deepcopy(exp)
    day = next(iter(wrong["days"]))
    wrong["days"][day]["errors"] += 1
    n, failed, problems = check.check_job_pass(out, os.path.join(out, "lineage.jsonl"), wrong)
    assert failed == [day] and problems
    wrong = copy.deepcopy(exp)
    wrong["sinks"]["ok"] -= 1
    _, failed, _ = check.check_job_pass(out, os.path.join(out, "lineage.jsonl"), wrong)
    assert sorted(failed) == sorted(exp["days"])


def test_resume_must_add_nothing(tmp_path):
    out, _ = _job_output(tmp_path)
    rows = check.sink_rows(out, ("errors", "ok", "agg"))
    man = check.read_manifest(os.path.join(out, "lineage.jsonl"))
    assert check.check_resume(rows, dict(rows), man, dict(man)) == []
    assert check.check_resume(rows, {**rows, "ok": rows["ok"] + 1}, man, man)


def test_flagship_totals(tmp_path):
    _, cols = gen.make_pages(4, 2_000)
    exp = gen.expected_counts(cols)
    totals = {f"{s}.{k}": v for s, d in exp["flagship"].items() for k, v in d.items()}
    assert check.check_flagship(totals, exp) == []
    totals["unparsed.n"] += 1
    assert check.check_flagship(totals, exp) == [f"flagship unparsed.n: got {exp['flagship']['unparsed']['n'] + 1}, "
                                                  f"expected {exp['flagship']['unparsed']['n']}"]


def test_stream_rows_exactly_once(tmp_path):
    staging = str(tmp_path / "staging")
    files = gen.write_stream_files(6, 3, 50, staging)
    tables = [pq.read_table(os.path.join(staging, f["name"])) for f in files]
    sink = str(tmp_path / "ok")
    _write(sink, pa.concat_tables(tables))
    assert check.check_stream([sink], files) == ([], [])
    # the second file delivered twice, the third not at all
    _write(sink, pa.concat_tables([tables[0], tables[1], tables[1]]))
    failed, problems = check.check_stream([sink], files)
    assert failed == [files[1]["name"], files[2]["name"]] and len(problems) == 2
