"""Seeded input generators for the benchmark.

Every input the program sees is made here from the workload seed:

* ``tables/``      a small TPC-H-like star schema (the column names and
                   types of the repository's test tables) that the BQL
                   workloads register;
* ``corpus/``      a near-duplicate document corpus: each base document
                   plus seeded edited variants of it (``corpus_warm/``
                   holds its first documents, for the warm-up pass);
* ``statements.jsonl`` the BQL statement list of ``bql_interactive``:
                   templates with seeded literals, about half of them an
                   exact repeat of an earlier text;
* ``stream/``      the documents of ``stream_ingest``, one small parquet
                   file per landing, in landing order.

The same seed gives byte-identical files. Outputs are cached per seed
under the given directory; a finished directory holds ``DONE`` with the
generator's own digest, so a changed generator regenerates.

Usage: python3 gen.py --seed N --out DIR
"""

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: small enough that one run of every workload fits the time
# budget.
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000          # ~4 lines per order -> ~60k lineitem rows
CORPUS_BASE_DOCS = 400    # distinct documents of the near-dup corpus
CORPUS_VARIANTS = 5       # copies per base document (the first unedited)
WARM_DOCS = 100           # corpus prefix the pipeline warm-up pass reads
N_STATEMENTS = 4000       # statement list of bql_interactive (cycled)
REPEAT_SHARE = 0.5        # share of statements that repeat an earlier text
STREAM_FILES = 800        # files available to stream_ingest (a traced run lands ~460)
STREAM_DOCS_PER_FILE = 20

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01T00:00:00Z


def generator_digest():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def write_table(path, columns):
    """Writes one parquet file deterministically: one row group, no
    pandas metadata, fixed compression."""
    table = pa.table(columns)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   store_schema=False)


def gen_tables(rng, out):
    os.makedirs(out, exist_ok=True)
    write_table(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write_table(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    write_table(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)])})
    write_table(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2))})
    price = np.round(900.0 + rng.integers(0, 1000, N_PART) / 10.0, 1)
    write_table(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), N_PART), rng.integers(0, len(PART_NOUN), N_PART))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(price)})
    odate = EPOCH_1995_US + rng.integers(0, 2400, N_ORDERS) * DAY_US
    write_table(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array([("O", "P", "F")[i] for i in rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)])})
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS), lines)
    starts = np.cumsum(lines) - lines
    lineno = np.arange(n) - np.repeat(starts, lines) + 1
    pkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    # extended price scales with quantity (the dependence the CrossCat
    # generators are expected to find)
    ext = np.round(qty * price[pkey] * rng.uniform(0.95, 1.05, n), 2)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["O", "F"])[rng.integers(0, 2, n)]
    write_table(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags.tolist()),
        "l_linestatus": pa.array(status.tolist()),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 121, n) * DAY_US,
                               pa.timestamp("us"))})


def base_texts(rng, n):
    texts = []
    for _ in range(n):
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(40, 90)))]
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    return texts


def edit(rng, text):
    """A near-duplicate of `text`: 1 to 4 single-word replacements,
    deletions or insertions at seeded positions."""
    words = text.split()
    for _ in range(int(rng.integers(1, 5))):
        op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(words)))
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            words[pos] = word
        elif op == 1 and len(words) > 10:
            del words[pos]
        else:
            words.insert(pos, word)
    return " ".join(words)


def doc_columns(rng, texts, first_id):
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def near_dup_texts(rng, n_base, variants):
    out = []
    for base in base_texts(rng, n_base):
        out.append(base)
        out.extend(edit(rng, base) for _ in range(variants - 1))
    return out


def gen_corpus(rng, tables_dir, corpus_dir, warm_dir):
    os.makedirs(corpus_dir, exist_ok=True)
    texts = near_dup_texts(rng, CORPUS_BASE_DOCS, CORPUS_VARIANTS)
    docs = doc_columns(rng, texts, 0)
    write_table(f"{corpus_dir}/documents.parquet", docs)
    # the warm-up pass runs every stage over a small prefix of the corpus
    os.makedirs(warm_dir, exist_ok=True)
    write_table(f"{warm_dir}/documents.parquet",
                {k: v.slice(0, WARM_DOCS) for k, v in docs.items()})
    # the BQL engine registers a documents table too (GUESS SCHEMA input)
    write_table(f"{tables_dir}/documents.parquet",
                doc_columns(rng, base_texts(rng, 500), 0))


def gen_stream(rng, out):
    """Stream files carry no event time: the landing time, stamped into
    the file name when the benchmark lands the file, is the event time."""
    os.makedirs(out, exist_ok=True)
    per_file = STREAM_DOCS_PER_FILE
    texts = near_dup_texts(rng, STREAM_FILES * per_file // CORPUS_VARIANTS, CORPUS_VARIANTS)
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    docs = {}
    for f in range(STREAM_FILES):
        chunk = texts[f * per_file:(f + 1) * per_file]
        cols = doc_columns(rng, chunk, f * per_file)
        del cols["n_chars"]
        write_table(f"{out}/f{f:05d}.parquet", cols)
        docs[f"f{f:05d}.parquet"] = len(chunk)
    with open(f"{out}/files.json", "w") as fh:
        json.dump(docs, fh, sort_keys=True)


# BQL statement templates: (name, text, literal drawer, expected columns,
# whether a non-empty result is expected). The shapes follow the BQL
# query inventory: GROUP BY/HAVING, joins, scalar and correlated
# subqueries, estimators over small ranges, SIMULATE, INFER, REGRESS.
def _templates():
    r = lambda rng, lo, hi: int(rng.integers(lo, hi + 1))
    return [
        ("group_having",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty, "
         "avg(l_extendedprice) AS avg_price FROM lineitem WHERE l_quantity < {q} "
         "GROUP BY l_returnflag, l_linestatus HAVING count(*) > {h} "
         "ORDER BY l_returnflag, l_linestatus",
         lambda g: {"q": r(g, 5, 50), "h": r(g, 1, 20)},
         ["l_returnflag", "l_linestatus", "n", "sum_qty", "avg_price"], True),
        ("join",
         "SELECT n.n_name, count(*) AS n_customers FROM customer AS c, nation AS n "
         "WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > {bal} GROUP BY n.n_name "
         "ORDER BY n_customers DESC, n.n_name LIMIT {lim}",
         lambda g: {"bal": r(g, -500, 8000), "lim": r(g, 5, 20)},
         ["n_name", "n_customers"], True),
        ("scalar_in_subquery",
         "SELECT c_custkey, c_acctbal FROM customer "
         "WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <> {reg}) "
         "AND c_acctbal > (SELECT avg(c_acctbal) FROM customer) "
         "ORDER BY c_acctbal DESC, c_custkey LIMIT {lim}",
         lambda g: {"reg": r(g, 0, 4), "lim": r(g, 10, 40)},
         ["c_custkey", "c_acctbal"], True),
        ("exists_not_in",
         "SELECT s_suppkey, s_name FROM supplier "
         "WHERE EXISTS (SELECT 1 FROM nation WHERE n_regionkey = {r1}) "
         "AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = {r2}) "
         "AND s_suppkey BETWEEN {lo} AND {hi} ORDER BY s_suppkey",
         lambda g: (lambda lo: {"r1": r(g, 0, 4), "r2": r(g, 0, 4), "lo": lo,
                                "hi": lo + 40})(r(g, 0, 60)),
         ["s_suppkey", "s_name"], False),
        ("correlated_scalar",
         "SELECT n_name, (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS custs, "
         "(SELECT max(c_acctbal) FROM customer WHERE c_nationkey = n_nationkey) AS top_bal "
         "FROM nation WHERE n_nationkey >= {k} AND "
         "EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey) "
         "ORDER BY custs DESC, n_name LIMIT {lim}",
         lambda g: {"k": r(g, 0, 15), "lim": r(g, 3, 10)},
         ["n_name", "custs", "top_bal"], True),
        ("theta_correlated",
         "SELECT o_orderkey, (SELECT count(*) FROM orders AS u "
         "WHERE u.o_custkey = orders.o_custkey AND u.o_orderdate < orders.o_orderdate) AS n_earlier "
         "FROM orders WHERE o_orderkey < {k} ORDER BY o_orderkey LIMIT {lim}",
         lambda g: {"k": r(g, 200, 5000), "lim": r(g, 20, 100)},
         ["o_orderkey", "n_earlier"], True),
        ("estimate_correlated",
         "ESTIMATE c_custkey, c_acctbal FROM cpop WHERE c_custkey < {k} AND "
         "c_acctbal > (SELECT avg(u.c_acctbal) FROM customer AS u "
         "WHERE u.c_nationkey = customer.c_nationkey) ORDER BY c_custkey LIMIT 50",
         lambda g: {"k": r(g, 300, 1400)},
         ["c_custkey", "c_acctbal"], True),
        ("predictive_probability",
         "ESTIMATE c_custkey, PREDICTIVE PROBABILITY OF c_acctbal AS pp FROM cpop "
         "WHERE c_custkey BETWEEN {lo} AND {hi} ORDER BY c_custkey",
         lambda g: (lambda lo: {"lo": lo, "hi": lo + 200})(r(g, 0, 1200)),
         ["c_custkey", "pp"], True),
        ("similarity_pairwise",
         "ESTIMATE SIMILARITY IN THE CONTEXT OF c_acctbal FROM PAIRWISE cpop "
         "WHERE r0.rowid <= {n} AND r1.rowid <= {n} ORDER BY rowid0, rowid1",
         lambda g: {"n": r(g, 8, 20)},
         None, True),
        ("dependence_pairwise",
         "ESTIMATE DEPENDENCE PROBABILITY FROM PAIRWISE VARIABLES OF {pop} "
         "ORDER BY name0, name1",
         lambda g: {"pop": ("cpop", "lpop MODELED BY lgen", "lpop MODELED BY lloom")[r(g, 0, 2)]},
         None, True),
        ("simulate",
         "SIMULATE c_acctbal, c_nationkey FROM cpop GIVEN c_nationkey = {nk} LIMIT {lim}",
         lambda g: {"nk": r(g, 0, 24), "lim": r(g, 20, 200)},
         ["c_acctbal", "c_nationkey"], True),
        ("infer_predict",
         "INFER EXPLICIT rowid, l_quantity, PREDICT l_extendedprice AS price_hat "
         "CONFIDENCE price_conf USING {s} SAMPLES FROM lpop MODELED BY lgen "
         "WHERE rowid BETWEEN {lo} AND {hi} ORDER BY rowid",
         lambda g: (lambda lo: {"s": r(g, 2, 8), "lo": lo, "hi": lo + 150})(r(g, 1, 50000)),
         ["rowid", "l_quantity", "price_hat", "price_conf"], True),
        ("regress",
         "REGRESS c_acctbal GIVEN (c_nationkey) USING {n} SAMPLES BY cpop",
         lambda g: {"n": r(g, 50, 300)},
         None, True),
        # a write beside the reads: new CrossCat state for lgen, which the
        # dependence and INFER statements read
        ("analyze",
         "ANALYZE lgen FOR {k} ITERATIONS",
         lambda g: {"k": r(g, 1, 2)},
         None, False),
        ("predictive_probability_wide",
         "ESTIMATE rowid, PREDICTIVE PROBABILITY OF l_extendedprice AS pp "
         "FROM lpop MODELED BY lgen WHERE rowid BETWEEN {lo} AND {hi}",
         lambda g: (lambda lo: {"lo": lo, "hi": lo + 9999})(r(g, 1, 45000)),
         ["rowid", "pp"], True),
    ]


def gen_statements(rng, path):
    """Rounds of one statement per template, in a seeded order, so every
    stretch of the list has the same template mix whatever the seed.
    Within a template, about REPEAT_SHARE of the statements repeat an
    earlier text exactly; the rest draw fresh literals."""
    templates = _templates()
    made = {t[0]: [] for t in templates}
    with open(path, "w", encoding="utf-8") as f:
        for _ in range(N_STATEMENTS // len(templates)):
            for i in rng.permutation(len(templates)):
                name, text, draw, cols, nonempty = templates[i]
                if made[name] and rng.random() < REPEAT_SHARE:
                    rec = dict(made[name][int(rng.integers(0, len(made[name])))], repeat=True)
                else:
                    rec = {"template": name, "bql": text.format(**draw(rng)),
                           "columns": cols, "nonempty": nonempty, "repeat": False}
                    made[name].append(rec)
                f.write(json.dumps(rec, sort_keys=True) + "\n")
    return [t[0] for t in templates]


def generate(seed, out):
    """Generates every input of `seed` into `out` unless a finished copy
    made by this generator is already there. Returns `out`."""
    digest = generator_digest()
    done = os.path.join(out, "DONE")
    if os.path.exists(done) and open(done).read().strip() == digest:
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    # one independent stream per input, so adding to one input never
    # shifts the others
    ss = np.random.SeedSequence(seed)
    r_tables, r_corpus, r_stmts, r_stream = [np.random.default_rng(s) for s in ss.spawn(4)]
    gen_tables(r_tables, f"{tmp}/tables")
    gen_corpus(r_corpus, f"{tmp}/tables", f"{tmp}/corpus", f"{tmp}/corpus_warm")
    gen_statements(r_stmts, f"{tmp}/statements.jsonl")
    gen_stream(r_stream, f"{tmp}/stream")
    with open(f"{tmp}/DONE", "w") as f:
        f.write(digest + "\n")
    os.rename(tmp, out)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(generate(a.seed, a.out))


if __name__ == "__main__":
    sys.exit(main())
