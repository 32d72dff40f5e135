"""Seeded input generators for the graft benchmark.

corpus(path, seed): a newline-delimited word list with the shape of the
reference corpus (354,984 lines: first letters skewed about 87:1, a few
non-letter-initial lines, single-letter lines, the characters '&"/0-9
inside words, and an unterminated final line).

tables(dir, seed, sf): the ten synthetic parquet tables the query suite
reads (region ... embeddings), with the schemas, row counts and value
distributions of the suite's fixture tables (FIXTURES.md section B) at the
same scale factor. Documents are 10-99 words drawn uniformly from the
fixtures' 30-word vocabulary, and exactly one in twenty is a near-duplicate
of another (a copy plus a "dup" token), as in the fixtures; the fixtures'
bigram golden (82 distinct bigrams, about 97,800 occurrences over 500
documents) holds for every seed to within the seed-to-seed spread.

Both are vectorised with numpy and take well under a second at the sizes
the benchmark uses. The same seed always gives byte-identical files.
"""
import numpy as np
import pandas as pd

CORPUS_LINES = 354_984

# First-letter weights of an English word list; s/x = 87.
FIRST = dict(a=22000, b=20500, c=31000, d=20000, e=14000, f=14500, g=12000,
             h=13500, i=13000, j=2500, k=3000, l=11500, m=19000, n=9000,
             o=10500, p=27000, q=1800, r=19500, s=37438, t=18500, u=12000,
             v=6000, w=8500, x=429, y=1200, z=1000)
# Letter frequencies for the rest of a word.
REST = dict(a=8.2, b=1.5, c=2.8, d=4.3, e=12.7, f=2.2, g=2.0, h=6.1, i=7.0,
            j=0.2, k=0.8, l=4.0, m=2.4, n=6.7, o=7.5, p=1.9, q=0.1, r=6.0,
            s=6.3, t=9.1, u=2.8, v=1.0, w=2.4, x=0.2, y=2.0, z=0.1)
SPECIAL = np.frombuffer(b"'&\"/0123456789", dtype=np.uint8)
NON_LETTER_INITIAL = 45
SINGLE_LETTER = 26


def _probs(d):
    p = np.array([d[chr(97 + i)] for i in range(26)], dtype=float)
    return p / p.sum()


def corpus(path, seed, lines=CORPUS_LINES):
    """Writes the word list; returns (lines, bytes)."""
    rng = np.random.default_rng([seed, 1])
    lens = 2 + rng.binomial(14, 0.45, size=lines)
    odd = rng.choice(lines, NON_LETTER_INITIAL + SINGLE_LETTER, replace=False)
    single, nonletter = odd[:SINGLE_LETTER], odd[SINGLE_LETTER:]
    lens[single] = 1
    starts = np.concatenate(([0], np.cumsum(lens[:-1] + 1)))
    total = int(starts[-1] + lens[-1])          # no newline after the last
    buf = (97 + rng.choice(26, size=total, p=_probs(REST))).astype(np.uint8)
    special = rng.random(total) < 0.004
    buf[special] = SPECIAL[rng.integers(0, len(SPECIAL), int(special.sum()))]
    buf[starts] = 97 + rng.choice(26, size=lines, p=_probs(FIRST))
    buf[starts[nonletter]] = SPECIAL[rng.integers(0, len(SPECIAL), len(nonletter))]
    buf[starts[1:] - 1] = 10
    with open(path, "wb") as f:
        f.write(buf.tobytes())
    return lines, total


# (documents, embeddings) rows of the suite's fixtures; unlike the other
# tables they do not scale by ten per step.
DOC_ROWS = {0.001: (500, 500), 0.01: (500, 500), 0.1: (5000, 2000)}
VOCAB = ("a the data table query join scan filter sort merge hash group agg "
         "window stream batch spark vector column row key value order "
         "customer part line small big fast slow").split()


def tables(out, seed, sf):
    """Writes <out>/<table>.parquet for the ten suite tables."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = DOC_ROWS[sf]

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(f"{out}/{name}.parquet", index=False)

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return (np.datetime64(start, "us")
                + rng.integers(0, span, n).astype("timedelta64[D]"))

    save("region", dict(
        r_regionkey=np.arange(5, dtype=np.int32),
        r_name=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]))
    save("nation", dict(
        n_nationkey=np.arange(25, dtype=np.int32),
        n_name=[f"NATION_{i}" for i in range(25)],
        n_regionkey=(np.arange(25) % 5).astype(np.int32)))
    save("customer", dict(
        c_custkey=np.arange(n_cust, dtype=np.int64),
        c_name=[f"Customer#{i:09d}" for i in range(n_cust)],
        c_nationkey=rng.integers(0, 25, n_cust).astype(np.int32),
        c_acctbal=money(-999.99, 9999.99, n_cust),
        c_mktsegment=pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                           "MACHINERY"], n_cust)))
    save("supplier", dict(
        s_suppkey=np.arange(n_supp, dtype=np.int64),
        s_name=[f"Supplier#{i:09d}" for i in range(n_supp)],
        s_nationkey=rng.integers(0, 25, n_supp).astype(np.int32),
        s_acctbal=money(-999.99, 9999.99, n_supp)))
    adj = ["blue", "old", "cold", "large", "hot", "red", "small", "new"]
    noun = ["widget", "gizmo", "bolt", "rod", "anvil", "plate", "ring", "gear"]
    pk = np.arange(n_part, dtype=np.int64)
    save("part", dict(
        p_partkey=pk,
        p_name=[f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        p_brand=[f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        p_type=pick(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"],
                    n_part),
        p_size=rng.integers(1, 51, n_part).astype(np.int32),
        p_retailprice=np.round(900 + (pk % 1000) * 0.1, 1)))
    save("orders", dict(
        o_orderkey=np.arange(n_ord, dtype=np.int64),
        o_custkey=rng.integers(0, n_cust, n_ord).astype(np.int64),
        o_orderstatus=pick(["F", "O", "P"], n_ord),
        o_totalprice=money(1000, 500000, n_ord),
        o_orderdate=days("1995-01-01", 2404, n_ord),
        o_orderpriority=pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                              "4-NOT SPECIFIED", "5-LOW"], n_ord)))
    save("lineitem", dict(
        l_orderkey=rng.integers(0, n_ord, n_li).astype(np.int64),
        l_partkey=rng.integers(0, n_part, n_li).astype(np.int64),
        l_suppkey=rng.integers(0, n_supp, n_li).astype(np.int64),
        l_linenumber=rng.integers(1, 8, n_li).astype(np.int32),
        l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
        l_extendedprice=money(900, 105000, n_li),
        l_discount=rng.integers(0, 11, n_li) / 100.0,
        l_tax=rng.integers(0, 9, n_li) / 100.0,
        l_returnflag=pick(["A", "N", "R"], n_li),
        l_linestatus=pick(["F", "O"], n_li),
        l_shipdate=days("1995-01-02", 2499, n_li)))
    span_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    save("events", dict(
        event_id=np.arange(n_ev, dtype=np.int64),
        ts=ts,
        user_id=rng.integers(0, n_users, n_ev).astype(np.int64),
        event_type=pick(["click", "view", "purchase", "signup", "error"], n_ev),
        value=np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]))
    texts = [" ".join(pick(VOCAB, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    for t in rng.choice(n_docs, n_docs // 20, replace=False):
        src = int(rng.integers(0, n_docs - 1))
        texts[t] = texts[src + (src >= t)] + " dup"
    save("documents", dict(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=texts,
        lang=pick(["en", "de", "es", "fr", "zh"], n_docs,
                  p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        source=[f"src{i % 20}" for i in range(n_docs)],
        n_chars=np.array([len(t) for t in texts], dtype=np.int64)))
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", dict(
        vec_id=np.arange(n_emb, dtype=np.int64),
        embedding=list(emb),
        label=rng.integers(0, 10, n_emb).astype(np.int32)))
