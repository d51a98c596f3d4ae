"""Seeded input generation for one workload, cached on disk.

    python3 perfbench/prepare.py --workload <name> --seed <n> --out <dir>

The launcher (run.py) calls this in its own process when the cache
entry is missing, so no input generation is charged to any metric and
the measured process starts from files on disk. The same seed always
writes the same inputs.

pipeline_commit: ``generate_transcripts(seed, mega_every=1000)``
trimmed to ``PIPELINE_ROWS`` rows of whole conversations, plus one
conversation holding ``GIANT_SHARE`` of all rows, built from distinct
sentences of the perplexity model's English corpus so that it is kept.
Alongside
the parquet go the distinct turn-key count and a seeded sample of
turns with their expected labels and scrubbed bytes from the reference
twin (tests/reference_twin.py).

query_sweep: the ten warehouse tables the gate queries read, drawn
with numpy at scale factor ``SWEEP_SF``, plus each query's expected row
count, columns and value hash from its DuckDB oracle
(``__spark_entry__.oracle_sql()``, hashed as tools/check_oracles.py
does).
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def _twin():
    path = os.path.join(common.ROOT, "tests", "reference_twin.py")
    spec = importlib.util.spec_from_file_location("perfbench_reference_twin", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _giant_rows(seed: int, n_turns: int):
    import pandas as pd

    from cleaning_web_corpus_spark.models.seed_corpora import EN_CORPUS

    sentences = [s.strip() for s in EN_CORPUS.strip().splitlines()]
    rng = random.Random(seed * 7919 + 1)
    base = dt.datetime(2025, 6, 1)
    rows = []
    for i in range(n_turns):
        # distinct sentences: a repeated one can trip the repetition checks
        text = ". ".join(rng.sample(sentences, rng.randint(2, 4))) + "."
        rows.append(
            (common.GIANT_CONV_ID, i, ("user", "assistant", "tool")[i % 3], text, None,
             base + dt.timedelta(seconds=i))
        )
    rng.shuffle(rows)
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def prepare_transcripts(seed: int, out: str) -> None:
    import pandas as pd

    from cleaning_web_corpus_spark.config import QualityConfig
    from cleaning_web_corpus_spark.pipeline.transcripts import (
        TRANSCRIPT_SCHEMA,
        generate_transcripts,
    )
    from cleaning_web_corpus_spark.session import build_session

    spark = build_session(app_name="perfbench-prepare", extra_conf=common.session_conf())
    try:
        rows = generate_transcripts(
            spark, common.GEN_CONVS, seed=seed, mega_every=common.MEGA_EVERY
        ).toPandas()
        # whole conversations in conv_id order until the row budget is
        # met; one that would overflow it is skipped
        chosen, total = set(), 0
        for conv_id, n in rows.groupby("conv_id").size().sort_index().items():
            if total + n <= common.PIPELINE_ROWS:
                chosen.add(conv_id)
                total += n
        n_giant = round(total * common.GIANT_SHARE / (1 - common.GIANT_SHARE))
        rows = pd.concat(
            [rows[rows["conv_id"].isin(chosen)], _giant_rows(seed, n_giant)], ignore_index=True
        )
        data = os.path.join(out, "transcripts.parquet")
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(data)
    finally:
        spark.stop()

    # latest-wins text per key (the generator's duplicates are 30 s
    # later, so ts never ties)
    latest = rows.sort_values("ts").drop_duplicates(["conv_id", "turn_idx"], keep="last")
    rng = random.Random(seed)
    picks = rng.sample(range(len(latest)), common.SAMPLE_KEYS)
    twin = _twin()
    cfg = QualityConfig.for_transcripts()
    sample = []
    for i in sorted(picks):
        r = latest.iloc[i]
        passed, reason = twin.twin_verdict(r["text"], cfg)
        sample.append(
            {
                "conv_id": r["conv_id"],
                "turn_idx": int(r["turn_idx"]),
                "passed": bool(passed),
                "reason": reason,
                "text_scrubbed": twin.twin_scrub(r["text"]) if passed else None,
            }
        )
    input_bytes = sum(
        os.path.getsize(os.path.join(data, f)) for f in os.listdir(data) if f.endswith(".parquet")
    )
    meta = {
        "rows": len(rows),
        "distinct_keys": len(latest),
        "input_bytes": input_bytes,
        "giant_conv": common.GIANT_CONV_ID,
        "giant_rows": n_giant,
    }
    with open(os.path.join(out, "sample.json"), "w") as f:
        json.dump(sample, f)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()


def write_warehouse(seed: int, data: str, sf: float) -> None:
    """TPC-H-shaped star schema plus events, documents and embeddings,
    with the column types and value domains of the gate's fixed test
    tables."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(data, exist_ok=True)

    def n(base):
        return max(1, int(base * sf))

    def put(name, cols):
        pd.DataFrame(cols).to_parquet(os.path.join(data, f"{name}.parquet"), index=False)

    def days(start, span, size):
        offsets = pd.to_timedelta(rng.integers(0, span, size), unit="D")
        return (pd.Timestamp(start) + offsets).astype("datetime64[us]")

    put("region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    nc, ns, npart, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    put("customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], nc
        ),
    })
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    put("part", {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"], npart),
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    put("orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": days("1995-01-02", 2498, nl),
    })
    ne = n(1_000_000)
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    put("events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(secs * 1e6), unit="us"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ne).astype("int64"),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    # Lengths and near-duplicate positions are fixed, only the words
    # follow the seed: the dedup queries' candidate counts, and so their
    # cost, then vary little from seed to seed.
    nd = n(50_000)
    texts = []
    for i in range(nd):
        if i % 20 == 19:  # near-duplicate of an earlier document
            texts.append(texts[i - 10] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_VOCAB, 10 + (i * 37) % 90)))
    put("documents", {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    nv, dim = max(n(50_000), 64), 64
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = 0.15 * centers[labels] + rng.normal(scale=1 / 8, size=(nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    })


def prepare_sweep(seed: int, out: str) -> None:
    data = os.path.join(out, "tables")
    write_warehouse(seed, data, common.SWEEP_SF)
    # the oracle module reads its data directory at import
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import TABLES, value_hash

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for q in common.QUERIES:
        res = con.execute(oracles[q])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        expected[q] = {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=common.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if a.workload == "query_sweep":
        prepare_sweep(a.seed, tmp)
    else:
        prepare_transcripts(a.seed, tmp)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
