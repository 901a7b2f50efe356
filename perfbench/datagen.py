"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of ``seed``:

* ``write_tables`` writes the ten parquet tables the registry queries
  read (region nation customer supplier part orders lineitem events
  documents embeddings) with the column names, Arrow types and value
  shapes of the engine's test tables.  ``scale`` is in units of the
  TPC-H-style scale factor: 0.01 gives 60 000 lineitem rows.
* ``CommitSchedule`` produces commit-shaped parquet files for the
  streaming job, each stamped with the time it is due, and keeps the
  per-(component, hour) line sums it put into them so the job's output
  can be checked exactly.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.43, 0.15, 0.145, 0.14, 0.135]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = (np.datetime64(start, "us") - EPOCH_US).astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten tables under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, type=pa.int64())  # noqa: E731

    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": i64(pk),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    day_us = 86_400 * 1_000_000
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_line) * day_us),
    })
    _write(out_dir, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": i64(rng.integers(0, max(10, n_ev * 3 // 200), n_ev)),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        # one document in twenty repeats an earlier one with a "dup" tail
        # (the near-duplicate mass the dedup operators look for)
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    })
    vec = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })


# --- commit stream -------------------------------------------------------

#: (path template, component the reference's GetSourceComponent gives it);
#: ``None`` is a path that matches no component (a NULL group)
COMMIT_PATHS = [
    ("flink-core/src/main/java/org/apache/flink/{}.java", "flink-core"),
    ("flink-runtime/src/main/java/org/apache/flink/runtime/{}.java", "flink-runtime"),
    ("flink-streaming-java/src/test/java/{}.java", "flink-streaming-java"),
    ("flink-table/flink-table-planner/src/main/scala/{}.scala", "flink-table/flink-table-planner"),
    ("flink-connectors/flink-connector-kafka/src/main/java/{}.java", "flink-connectors/flink-connector-kafka"),
    # the reference pattern's pom.xml branch keeps the trailing slash
    ("flink-state-backends/flink-statebackend-rocksdb/pom.xml", "flink-state-backends/flink-statebackend-rocksdb/"),
    ("docs/content/docs/{}.md", "docs"),
    ("flink-docs/src/main/java/{}.java", "flink-docs"),
    ("tools/ci/{}.sh", "tools"),
    ("flink-python/pyflink/{}.py", "flink-python"),
    ("flink-end-to-end-tests/test-scripts/{}.sh", "flink-end-to-end-tests/test-scripts"),
    ("LICENSE", None),
    (".github/workflows/{}.yml", None),
]

#: Arrow twin of ``schemas.COMMIT``
_FILE_T = pa.struct([
    ("filename", pa.string()), ("linesAdded", pa.int32()),
    ("linesChanged", pa.int32()), ("linesRemoved", pa.int32()),
])
COMMIT_ARROW = pa.schema([
    ("author", pa.string()), ("authorDate", pa.timestamp("us", tz="UTC")),
    ("authorEmail", pa.string()), ("commitDate", pa.timestamp("us", tz="UTC")),
    ("committer", pa.string()), ("committerEmail", pa.string()),
    ("filesChanged", pa.list_(_FILE_T)), ("sha1", pa.string()),
    ("shortInfo", pa.string()),
])

HOUR_US = 3_600 * 1_000_000
EPOCH_DT = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


class CommitSchedule:
    """Seeded open-loop commit feed.

    File ``i`` is due ``i * interval`` seconds after the schedule starts
    and holds ``commits_per_file`` commits, the newest created at the due
    time (a producer that flushes one file per interval).  Each commit
    changes 1-5 files.  Event time advances
    ``event_step_min`` minutes per file; each commit lands up to
    ``max_late_h`` hours behind its file's event clock, so files arrive
    out of order but always inside the job's 1-day watermark and no row
    is dropped.  ``expected`` accumulates the exact line sums per
    (component, window start) the job must produce.
    """

    def __init__(self, seed: int, start: str, interval: float,
                 commits_per_file: int, event_step_min: float = 10.0,
                 max_late_h: float = 6.0):
        self.rng = np.random.default_rng([seed, 2])
        self.start_us = int((np.datetime64(start, "us") - EPOCH_US).astype(np.int64))
        self.interval = interval
        self.commits_per_file = commits_per_file
        self.step_us = int(event_step_min * 60 * 1_000_000)
        self.max_late_us = int(max_late_h * HOUR_US)
        self.expected: dict[tuple, int] = {}
        self.n_commits = 0

    def due_offset(self, i: int) -> float:
        return i * self.interval

    def make_file(self, i: int, path: str) -> None:
        rng, n = self.rng, self.commits_per_file
        clock = self.start_us + i * self.step_us
        commit_us = clock - rng.integers(0, self.max_late_us, n)
        n_files = rng.integers(1, 6, n)
        files, sha = [], []
        for c in range(n):
            row = []
            for _ in range(int(n_files[c])):
                tmpl, comp = COMMIT_PATHS[int(rng.integers(0, len(COMMIT_PATHS)))]
                added, removed = (int(x) for x in rng.integers(0, 200, 2))
                row.append({
                    "filename": tmpl.format(f"C{int(rng.integers(0, 1000))}"),
                    "linesAdded": added, "linesChanged": added + removed,
                    "linesRemoved": removed,
                })
                key = (comp, int(commit_us[c]) // HOUR_US * HOUR_US)
                self.expected[key] = self.expected.get(key, 0) + added + removed
            files.append(row)
            sha.append(f"{i:08x}{c:08x}{int(rng.integers(0, 1 << 30)):08x}")
        authors = [f"dev{a}" for a in rng.integers(0, 50, n)]
        ts = pa.array(commit_us, type=pa.timestamp("us", tz="UTC"))
        table = pa.table({
            "author": authors, "authorDate": ts,
            "authorEmail": [f"{a}@flink.apache.org" for a in authors],
            "commitDate": ts, "committer": authors,
            "committerEmail": [f"{a}@flink.apache.org" for a in authors],
            "filesChanged": pa.array(files, type=pa.list_(_FILE_T)),
            "sha1": sha, "shortInfo": [f"[FLINK-{10000 + i}] change"] * n,
        }, schema=COMMIT_ARROW)
        pq.write_table(table, path)
        self.n_commits += n


SINK_ARROW = pa.schema([
    ("windowStart", pa.timestamp("us", tz="UTC")),
    ("windowEnd", pa.timestamp("us", tz="UTC")),
    ("componentName", pa.string()), ("linesChanged", pa.int64()),
])


def write_history(path: str, rows: list[tuple]) -> None:
    """The sink's starting index as one parquet file (the job's output
    schema)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table({f.name: pa.array(c, type=f.type)
                             for f, c in zip(SINK_ARROW, cols)}), path)


def history_rows(seed: int, n: int, before: str) -> list[tuple]:
    """Seeded window summaries that predate the feed: the sink's starting
    index, which every micro-batch reads and rewrites and no new commit
    touches.  Rows are (windowStart, windowEnd, componentName, linesChanged)."""
    rng = np.random.default_rng([seed, 3])
    end_us = int((np.datetime64(before, "us") - EPOCH_US).astype(np.int64))
    comps = sorted({c for _, c in COMMIT_PATHS if c is not None})
    keys = set()
    rows = []
    while len(rows) < n:
        hour = int(rng.integers(1, 24 * 365)) * HOUR_US
        comp = comps[int(rng.integers(0, len(comps)))]
        if (comp, hour) in keys:
            continue
        keys.add((comp, hour))
        start = EPOCH_DT + dt.timedelta(microseconds=end_us - hour)
        rows.append((start, start + dt.timedelta(hours=1), comp,
                     int(rng.integers(1, 5000))))
    return rows
