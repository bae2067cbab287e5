"""Seeded input generation. graft only ever sees what these functions
produce: a key order per pass, a generated document corpus, or a
ClickHouse DDL script. The same seed gives byte-identical inputs."""
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# ---------- olap_mix: the ClickHouse-SQL statement surface ----------

# A fixed sample of the 155 relational and dialect keys (families q j g
# w f a y c x s), chosen by sample_keys.py from a measured survey of all
# of them: one key per latency decile, nearest its decile's median
# construct share. README.md gives the survey and the sample's figures.
# The set never varies with the seed, only its order does, so every seed
# measures the same work.
OLAP_KEYS = [
    "a09_any_value", "c02_dialect_scalar", "c11_ch_totals", "c23_ch_limit_by_offset",
    "c29_ch_retention_sql", "c35_ch_time_decay", "c50_ch_series_sql", "g01_rollup",
    "j06_semi", "q02_filter_project",
]

# ---------- curation_corpus: dedup and text pipelines ----------

# n-gram Jaccard near-dup pairs clustered into components (gram hashing
# and clustering kernels), and the Gopher quality rules (text kernels)
CURATION_KEYS = ["d12_dup_clusters", "t15_gopher_rules"]

# The testdata corpus's word list and its language and source mix.
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
SOURCES = [f"src{i}" for i in range(20)]

CORPUS = {"docs": 25000, "near_dup_share": 0.25, "exact_dup_share": 0.02,
          "edit_share": 0.1}
# The correctness pass runs the same pipelines over the first CHECK_DOCS
# documents of the same seeded stream: DuckDB's pairwise dedup oracles
# take 15-30 s at 25,000 documents and about 1 s at 2,000.
CHECK_DOCS = 2000


def key_orders(keys, seed, passes):
    """One seeded permutation of `keys` per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(keys)
        rng.shuffle(order)
        out.append(order)
    return out


def corpus_rows(seed, docs, near_dup_share, exact_dup_share, edit_share):
    """Documents of 10-100 words. A `near_dup_share` of them copy an
    earlier document with `edit_share` of its words replaced; an
    `exact_dup_share` copy one verbatim."""
    rng = random.Random(seed)
    lang_names = [n for n, _ in LANGS]
    lang_weights = [w for _, w in LANGS]
    texts = []
    langs = []
    sources = []
    for i in range(docs):
        r = rng.random()
        if i > 0 and r < exact_dup_share:
            text = texts[rng.randrange(i)]
        elif i > 0 and r < exact_dup_share + near_dup_share:
            words = texts[rng.randrange(i)].split(" ")
            for j in range(len(words)):
                if rng.random() < edit_share:
                    words[j] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100)))
        texts.append(text)
        langs.append(rng.choices(lang_names, lang_weights)[0])
        sources.append(rng.choice(SOURCES))
    return pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(dest: Path, seed: int, base: Path, params):
    """The generated `documents` table in `dest`, with every other
    table of `base` linked beside it."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in sorted(base.glob("*.parquet")):
        if f.name != "documents.parquet":
            (dest / f.name).symlink_to(f.resolve())
    pq.write_table(corpus_rows(seed, **params), dest / "documents.parquet",
                   row_group_size=1 << 20)


# ---------- ddl_ingest: writes beside reads through ChDdl.execute ----------

DDL = {"batches": 4, "mutate_every": 2}

SRC_VIEW = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, "
            "o_orderpriority FROM orders")
TABLE = "bench_orders"
MV = "bench_mv"
COLS = "o_orderkey, o_custkey, o_orderstatus, price_cents, o_orderpriority"
READ = (f"SELECT o_orderpriority, count(*) AS n, sum(price_cents) AS cents "
        f"FROM {TABLE} GROUP BY o_orderpriority ORDER BY o_orderpriority")
MV_SELECT = ("SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS cents "
             "FROM {src} GROUP BY o_orderstatus")
MV_READ = (f"SELECT o_orderstatus, sum(n) AS n, sum(cents) AS cents "
           f"FROM {MV} GROUP BY o_orderstatus ORDER BY o_orderstatus")


def ddl_script(seed, batches, mutate_every):
    """The ClickHouse script as (class, clickhouse_sql, replay_sqls)
    triples. `replay_sqls` is the same step in plain DuckDB SQL,
    computed without graft for the correctness check; a materialized
    view block is replayed as an explicit per-insert partial."""
    rng = random.Random(seed)
    s = [
        ("create",
         f"CREATE TABLE {TABLE} (o_orderkey Int64, o_custkey Int64, "
         f"o_orderstatus String, price_cents Int64, o_orderpriority String) "
         f"ENGINE = MergeTree() PARTITION BY o_orderpriority ORDER BY (o_orderkey)",
         [f"CREATE TABLE {TABLE} (o_orderkey BIGINT, o_custkey BIGINT, "
          f"o_orderstatus VARCHAR, price_cents BIGINT, o_orderpriority VARCHAR)"]),
        ("create",
         f"CREATE MATERIALIZED VIEW {MV} ENGINE = SummingMergeTree() AS "
         + MV_SELECT.format(src=TABLE),
         [f"CREATE TABLE {MV} (o_orderstatus VARCHAR, n BIGINT, cents HUGEINT)"]),
    ]
    order = list(range(batches))
    rng.shuffle(order)
    for i, b in enumerate(order, 1):
        batch = f"SELECT {COLS} FROM src_orders WHERE o_orderkey % {batches} = {b}"
        s.append(("insert", f"INSERT INTO {TABLE} {batch}",
                  [f"INSERT INTO {TABLE} {batch}",
                   f"INSERT INTO {MV} " + MV_SELECT.format(src=f"({batch})")]))
        s.append(("read", READ, [READ]))
        if i % mutate_every == 0 and i < batches:
            # fixed moduli, seeded residues: every seed mutates the same
            # share of rows (1/7 updated, 1/11 deleted), different rows
            r, inc = rng.randrange(7), rng.randint(1, 500)
            pred = f"o_custkey % 7 = {r}"
            s.append(("mutation",
                      f"ALTER TABLE {TABLE} UPDATE price_cents = price_cents + {inc} "
                      f"WHERE {pred}",
                      [f"UPDATE {TABLE} SET price_cents = price_cents + {inc} WHERE {pred}"]))
            pred = f"o_orderkey % 11 = {rng.randrange(11)}"
            s.append(("mutation", f"ALTER TABLE {TABLE} DELETE WHERE {pred}",
                      [f"DELETE FROM {TABLE} WHERE {pred}"]))
            s.append(("read", READ, [READ]))
    s.append(("read", MV_READ, [MV_READ]))
    s.append(("dump", "", []))
    s.append(("drop", f"DROP TABLE {MV}", []))
    s.append(("drop", f"DROP TABLE {TABLE}", []))
    return s
