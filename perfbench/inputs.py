"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload, seed, recipe). Inputs are
cached under ``.perfbench/inputs/<workload>-s<seed>-<recipe key>/`` in
the checkout; the recipe and the generator version are part of the key,
so a changed recipe can never be served a stale tree. A tree is built in
a temporary directory and renamed into place once complete, and its
``manifest.json`` records what every table must look like after a
correct migration (rows, seeded U+0000 rows, expected compareDb
verdict).

The Derby database of ``migrate_jdbc_many`` is bulk-imported by Derby's
``ij`` tool in a child JVM: embedded Derby lets one JVM at a time open a
database, and the measuring process must start its own JVM inside its
set-up.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
from decimal import Decimal
from pathlib import Path

import numpy as np

GENERATOR_VERSION = 1

RECIPES: dict[str, dict] = {
    # many small hostile tables plus two larger ones, in Derby
    "migrate_jdbc_many": {
        "small_tables": 6,
        "small_rows": [40, 1200],
        "large_tables": {"big_orders": 12_000, "big_events": 8_000},
        "nul_tables": 2,
        "nul_rows": [2, 9],
        "hostile_rate_small": 0.5,
        "hostile_rate_large": 0.05,
    },
    # a corpus with planted near-duplicate clusters, Zipf vocabulary
    "curate_corpus": {
        "docs": 600,
        "clusters": 30,
        "cluster_size": 4,
        "vocab": 1500,
        "zipf_a": 1.2,
        "doc_words": [12, 70],
        "vectors": 500,
        "dim": 64,
        "labels": 10,
    },
}

#: cached trees kept per workload, enough for two sets of ten seeds;
#: older ones are evicted
KEEP_TREES = 24


def recipe_key(workload: str) -> str:
    blob = json.dumps([GENERATOR_VERSION, workload, RECIPES[workload]],
                      sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _rng(seed: int, *salt: str) -> np.random.Generator:
    h = hashlib.sha256(repr((seed, salt)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


# ---------------------------------------------------------------------------
# value helpers
# ---------------------------------------------------------------------------

_WORDS = np.array(
    "alpha bravo carbon delta ember falcon gamma harbor iron jade kilo "
    "lumen maple nova orbit pixel quartz raven solar tango umbra vivid "
    "willow xenon yonder zephyr".split()
)
_EPOCH_US = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_SPAN_US = 30 * 365 * 86_400 * 1_000_000


def _decimals(rng, n, lo, hi, scale, null_rate=0.0):
    units = rng.integers(lo * 10**scale, hi * 10**scale, n)
    nulls = rng.random(n) < null_rate
    return [None if z else Decimal(int(u)).scaleb(-scale)
            for u, z in zip(units, nulls)]


def _timestamps(rng, n):
    return (_EPOCH_US + rng.integers(0, _SPAN_US, n)).astype("datetime64[us]")


def _dates(rng, n):
    return (np.datetime64("1995-01-01")
            + rng.integers(0, 30 * 365, n)).astype("datetime64[D]")


def _phrases(rng, n, lo, hi):
    counts = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(_WORDS), int(counts.sum()))
    out, i = [], 0
    for c in counts:
        out.append(" ".join(_WORDS[picks[i:i + c]]))
        i += c
    return out


def _choice(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


# ---------------------------------------------------------------------------
# migrate_jdbc_many: hostile tables loaded into embedded Derby
# ---------------------------------------------------------------------------

_HOSTILE = ["\t", "\n", "\r", "\r\n", "\\", "\\\\", "\\\\\\", "\\N",
            "\\t", "naïve", "δέλτα", "中文", "😀", "'", '"', ",", ""]


def _hostile_strings(rng, n, rate, nul_rows=()):
    """Words with tab/LF/CR, backslash runs, literal \\N, unicode,
    empty strings and NULLs mixed in at `rate`; U+0000 in `nul_rows`."""
    base = _phrases(rng, n, 1, 4)
    out = []
    for i, s in enumerate(base):
        r = rng.random()
        if r < rate:
            parts = [_HOSTILE[j] for j in rng.integers(0, len(_HOSTILE), 3)]
            s = parts[0] + s + parts[1] + parts[2]
        if rng.random() < rate * 0.04:
            s = "\\N"  # the literal two characters, not NULL
        elif rng.random() < rate * 0.04:
            s = ""
        elif rng.random() < rate * 0.08:
            s = None
        out.append(s)
    for i in nul_rows:
        out[i] = (out[i] or "") + "\x00tail"
    return out


def _blobs(rng, n, null_rate):
    lens = rng.integers(1, 24, n)  # Derby imports an empty BLOB as NULL
    raw = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8).tobytes()
    out, i = [], 0
    for k in lens:
        out.append(None if rng.random() < null_rate else raw[i:i + k])
        i += k
    return out


def jdbc_table_specs(seed: int, rec: dict) -> dict:
    """name -> (rows, hostile rate, sorted NUL row indexes)."""
    rng = _rng(seed, "jdbc-layout")
    lo, hi = rec["small_rows"]
    specs = {}
    small = [f"t{i:02d}" for i in range(rec["small_tables"])]
    # a fixed set of sizes in a seeded order: the total never changes
    sizes = rng.permutation(
        np.linspace(lo, hi, len(small)).round().astype(int)).tolist()
    nul_tables = set(
        rng.choice(small, rec["nul_tables"], replace=False).tolist())
    for name, rows in zip(small, sizes):
        nul = ()
        if name in nul_tables:
            k = int(rng.integers(rec["nul_rows"][0], rec["nul_rows"][1] + 1))
            nul = tuple(sorted(rng.choice(rows, k, replace=False).tolist()))
        specs[name] = (rows, rec["hostile_rate_small"], nul)
    for name, rows in rec["large_tables"].items():
        specs[name] = (rows, rec["hostile_rate_large"], ())
    return specs


def jdbc_rows(seed: int, name: str, spec) -> dict:
    """Column lists of one Derby table."""
    rows, rate, nul = spec
    rng = _rng(seed, "jdbc", name)
    return {
        "id": list(range(1, rows + 1)),
        "name": _hostile_strings(rng, rows, rate, nul_rows=nul),
        "note": _hostile_strings(rng, rows, rate),
        "amount": _decimals(rng, rows, -10_000, 10_000, 3, null_rate=0.03),
        "created": [d.item() for d in _dates(rng, rows)],
        "updated": [t.item() for t in _timestamps(rng, rows)],
        "qty": [int(x) for x in rng.integers(-1000, 1000, rows)],
        "payload": _blobs(rng, rows, null_rate=0.05),
    }


JDBC_DDL = (
    "id BIGINT, name CLOB, note CLOB, amount DECIMAL(12,3), created DATE, "
    "updated TIMESTAMP, qty INTEGER, payload BLOB"
)  # the types Spark's JDBC writer gives these columns on Derby


def _import_field(v) -> str:
    """One field of Derby's delimited import format: NULL is an empty
    unquoted field, strings are double-quoted (quotes doubled), BLOBs
    are hex."""
    if v is None:
        return ""
    if isinstance(v, str):
        return '"' + v.replace('"', '""') + '"'
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def load_derby(db_dir: Path, seed: int, rec: dict, drop_nul: bool) -> None:
    """Create the Derby database at `db_dir` and bulk-import every table
    (SYSCS_UTIL.SYSCS_IMPORT_TABLE) with Derby's `ij` tool in a child
    JVM; raises if any statement fails."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(str(p) for p in
                  (Path(_find_spark_home()) / "jars").glob("derby*.jar"))
    tmp = db_dir.parent
    script = [f"connect 'jdbc:derby:{db_dir};create=true';"]
    for name, spec in jdbc_table_specs(seed, rec).items():
        if drop_nul:
            spec = (spec[0], spec[1], ())
        cols = jdbc_rows(seed, name, spec)
        path = tmp / f"{name}.del"
        with open(path, "w", encoding="utf-8", newline="") as f:
            for row in zip(*cols.values()):
                f.write(",".join(map(_import_field, row)) + "\n")
        script += [
            f"CREATE TABLE {name} ({JDBC_DDL});",
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{name.upper()}', "
            f"'{path}', ',', '\"', 'UTF-8', 0);",
        ]
    # a clean shutdown (reported as ERROR 08006): no log recovery when
    # the measuring JVM boots the database
    script += ["disconnect;", f"connect 'jdbc:derby:{db_dir};shutdown=true';",
               "exit;"]
    (tmp / "load.sql").write_text("\n".join(script) + "\n")
    out = subprocess.run(
        ["java", "-cp", ":".join(jars),
         # no log sync while loading; the shutdown above makes it durable
         "-Dderby.system.durability=test",
         f"-Dderby.stream.error.file={tmp / 'derby.log'}",
         "org.apache.derby.tools.ij", str(tmp / "load.sql")],
        capture_output=True, text=True, timeout=600)
    errors = [line for line in out.stdout.splitlines()
              if line.startswith("ERROR") and "08006" not in line]
    if out.returncode or errors:
        raise RuntimeError(f"loading Derby failed: {errors or out.stderr}")
    for p in tmp.glob("*.del"):
        p.unlink()


def _build_jdbc(tmp: Path, seed: int) -> dict:
    rec = RECIPES["migrate_jdbc_many"]
    db = tmp / "derby"
    dropped = []
    try:
        load_derby(db, seed, rec, drop_nul=False)
    except RuntimeError:
        # Derby rejected a value class: drop U+0000 and say so
        shutil.rmtree(db, ignore_errors=True)
        dropped.append("U+0000")
        load_derby(db, seed, rec, drop_nul=True)
    tables = {}
    for name, (rows, _rate, nul) in jdbc_table_specs(seed, rec).items():
        k = 0 if dropped else len(nul)
        tables[name] = {"rows": rows, "nul_rows": k,
                        "expect": "count_ok" if k else "content_ok"}
    return {"tables": tables, "dropped_value_classes": dropped,
            "rows": sum(t["rows"] for t in tables.values())}


# ---------------------------------------------------------------------------
# curate_corpus: documents + embeddings
# ---------------------------------------------------------------------------


def _corpus_tables(seed: int) -> dict:
    import pyarrow as pa

    rec = RECIPES["curate_corpus"]
    rng = _rng(seed, "corpus")
    vocab = np.array([f"w{i}" for i in range(rec["vocab"])])
    ranks = np.arange(1, rec["vocab"] + 1, dtype=np.float64)
    p = ranks ** -rec["zipf_a"]
    p /= p.sum()
    lo, hi = rec["doc_words"]

    def doc():
        return list(vocab[rng.choice(len(vocab), int(rng.integers(lo, hi)),
                                     p=p)])

    n = rec["docs"]
    texts = []
    for _ in range(rec["clusters"]):
        base = doc()
        texts.append(" ".join(base))
        for _ in range(rec["cluster_size"] - 1):
            near = list(base)
            for j in rng.integers(0, len(near), 2):  # a small edit
                near[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(near))
    while len(texts) < n:
        texts.append(" ".join(doc()))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_choice(rng, ["en", "en", "de", "fr", "es", "zh"],
                                 n)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })
    m, dim, k = rec["vectors"], rec["dim"], rec["labels"]
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, m).astype(np.int32)
    vec = centers[labels] + 0.6 * rng.normal(size=(m, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return {"documents": documents, "embeddings": embeddings}


def _build_corpus(tmp: Path, seed: int) -> dict:
    import pyarrow.parquet as pq

    src = tmp / "tables"
    src.mkdir()
    tables = _corpus_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, src / f"{name}.parquet")
    return {"rows": tables["documents"].num_rows,
            "vectors": tables["embeddings"].num_rows}


_BUILDERS = {
    "migrate_jdbc_many": _build_jdbc,
    "curate_corpus": _build_corpus,
}


def ensure_inputs(cache_root: Path, workload: str, seed: int) -> tuple:
    """-> (input dir, manifest); builds the tree on a cache miss."""
    key = recipe_key(workload)
    final = cache_root / f"{workload}-s{seed}-{key}"
    manifest_path = final / "manifest.json"
    if manifest_path.exists():
        os.utime(final)  # most recently used
        return final, json.loads(manifest_path.read_text())
    cache_root.mkdir(parents=True, exist_ok=True)
    tmp = cache_root / f".{final.name}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    manifest = {"workload": workload, "seed": seed, "recipe_key": key,
                "recipe": RECIPES[workload], **_BUILDERS[workload](tmp, seed)}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(cache_root, workload, keep=final)
    return final, manifest


def _evict(cache_root: Path, workload: str, keep: Path) -> None:
    trees = sorted(
        (p for p in cache_root.glob(f"{workload}-s*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for old in trees[: max(0, len(trees) - (KEEP_TREES - 1))]:
        shutil.rmtree(old, ignore_errors=True)

