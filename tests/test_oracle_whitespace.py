"""The DuckDB oracles split words on the engine's whitespace.

Java's ``\\s`` (Spark ``split``/``regexp``), the tokenizers' ASCII class and
Ruby's ``\\s`` all hold U+000B (vertical tab); RE2's ``\\s`` does not, so
the oracle SQL writes its class as ``[\\s\\v]``. A document with a vertical
tab between two words is then two words on both sides."""

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_vertical_tab_splits_words_in_engine_and_oracle(sf_dir, tmp_path):
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)
    path = os.path.join(data, "documents.parquet")
    docs = pq.read_table(path)
    text = "ab\x0bcd ef"
    extra = pa.Table.from_pylist([{
        "doc_id": pc.max(docs["doc_id"]).as_py() + 1, "text": text,
        "lang": "en", "source": "src0", "n_chars": len(text),
    }], schema=docs.schema)
    pq.write_table(pa.concat_tables([docs, extra]), path)

    r = subprocess.run(
        [sys.executable, "tools/check_oracles.py", data, "repetition_ratio", "token_count"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    ok = [line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK")]
    assert sorted(ok) == ["repetition_ratio", "token_count"], r.stdout
