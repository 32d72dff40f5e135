"""Independent DuckDB oracle for every benchmark output.

check_mix(tables_dir, check_dir, queries): each query's check-pass parquet
against its `SparkEntry.oracleSql` text (dumped by the harness), with the
canonical compare of tools/check_oracle.py: columns sorted by name, rows
sorted by all columns, floats equal to 1e-9 relative.

check_wordlist(corpus, check_dir): the paper's job outputs (the split-phase
directories, results.txt, probabilities.txt and the onlyOne table) against
DuckDB queries over the same generated word list, including the
reference's trailing-line quirk and its totalCount rule.

Both return a list of (name, ok, detail).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(spill_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET max_temp_directory_size='4GiB'")
    return con


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:  # list cells are unhashable: tuple-ize
        if df[c].dtype == object and len(df) and \
                hasattr(df[c].iloc[0], "__len__") and \
                not isinstance(df[c].iloc[0], str):
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(oracle, spark):
    """None when the frames match, else a one-line reason."""
    o, s = _canon(oracle), _canon(spark)
    if list(o.columns) != list(s.columns):
        return f"columns differ oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rows differ oracle={len(o)} spark={len(s)}"
    for c in o.columns:
        oc, sc = o[c], s[c]
        if oc.dtype.kind == "f" or sc.dtype.kind == "f":
            ov, sv = oc.astype(float).to_numpy(), sc.astype(float).to_numpy()
            bad = ~np.isclose(ov, sv, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            try:
                bad = ~oc.astype(object).eq(sc.astype(object)).to_numpy()
            except (TypeError, ValueError):
                bad = np.array([str(a) != str(b) for a, b in zip(oc, sc)])
        if bad.any():
            i = int(bad.argmax())
            return f"col {c} row {i}: oracle={oc.iloc[i]!r} spark={sc.iloc[i]!r}"
    return None


def _parquet(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_mix(tables_dir, check_dir, queries, spill_dir):
    con = _connect(spill_dir)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    with open(f"{check_dir}/oracle_sql.json") as f:
        sql = json.load(f)
    out = []
    for q in queries:
        spark = _parquet(f"{check_dir}/{q}")
        if spark is None:
            out.append((q, False, "no check-pass output"))
            continue
        try:
            oracle = con.execute(sql[q]).df()
        except duckdb.Error as e:
            out.append((q, False, f"oracle SQL error: {e}"))
            continue
        why = compare(oracle, spark)
        out.append((q, why is None, why or f"{len(spark)} rows"))
    return out


def _is_bigram(w, i):
    return (f"substring({w}, {i}, 1) BETWEEN 'a' AND 'z' AND "
            f"substring({w}, {i} + 1, 1) BETWEEN 'a' AND 'z'")


def load_wordlist(con, corpus):
    """Materialises the word list's lines and bigrams; returns the CTEs
    over them. Splitting the whole file on \\n and dropping the last
    element reproduces Spark's line reader plus the reference's
    trailing-element drop: an unterminated final word is lost, and a
    terminated file loses only the empty tail. `main` marks the words the
    distributed mode keeps (first letter a-z); onlyOne keeps every word of
    length >= 2."""
    con.execute(f"""CREATE TEMP TABLE lines AS
        SELECT unnest(l[1:len(l) - 1]) AS w FROM
        (SELECT string_split(content, chr(10)) AS l FROM read_text('{corpus}'))""")
    longest = con.execute("SELECT coalesce(max(length(w)), 0) FROM lines").fetchone()[0]
    con.execute(f"""CREATE TEMP TABLE grams AS
        SELECT substring(w, 1, 1) BETWEEN 'a' AND 'z' AS main,
               substring(w, i, 2) AS g
        FROM lines, range(1, {longest + 1}) AS t(i)
        WHERE length(w) >= 2 AND i < length(w) AND {_is_bigram('w', 'i')}""")
    return f"""
    main_kept AS (SELECT w FROM lines
                  WHERE length(w) >= 2 AND substring(w, 1, 1) BETWEEN 'a' AND 'z'),
    main_counts AS (SELECT g AS bigram, count(*) AS cnt FROM grams
                    WHERE main GROUP BY 1),
    one_counts AS (
      SELECT g AS bigram, count(*) AS cnt FROM grams GROUP BY 1
      UNION ALL
      SELECT 'totalCount', count(*) FROM lines
      WHERE length(w) >= 2 AND {_is_bigram('w', 'length(w) - 1')})
    """


def _sink_lines(path):
    """(key, value-string) pairs of a reference sink directory, which must
    hold exactly one non-empty part file (the reference writes one file)."""
    parts = [p for p in sorted(glob.glob(f"{path}/part-*"))
             if os.path.getsize(p) > 0]
    if len(parts) != 1:
        raise ValueError(f"{len(parts)} non-empty part files")
    rows = []
    with open(parts[0], encoding="utf-8", newline="") as f:
        for line in f.read().split("\n"):
            if line:
                if not line.endswith("\r") or ": \t\t " not in line:
                    raise ValueError(f"malformed line {line!r}")
                k, v = line[:-1].split(": \t\t ")
                rows.append((k, v))
    if [k for k, _ in rows] != sorted(k for k, _ in rows):
        raise ValueError("lines are not sorted by key")
    return rows


def check_wordlist(corpus, check_dir, spill_dir):
    con = _connect(spill_dir)
    cte = load_wordlist(con, corpus)

    def q(body):
        return con.execute(f"WITH {cte} {body}").df()

    probs = q("""SELECT bigram, cnt, round(cnt::DOUBLE /
                 (SELECT sum(cnt)::DOUBLE FROM main_counts), 12) AS p
                 FROM main_counts""")
    out = []

    def record(name, why, ok_detail):
        out.append((name, why is None, why or ok_detail))

    spark = _parquet(f"{check_dir}/count")
    record("count", "no output" if spark is None else compare(probs, spark),
           f"{len(probs)} bigrams")
    one = q("""SELECT bigram, cnt, round(cnt::DOUBLE /
               (SELECT sum(cnt)::DOUBLE FROM one_counts), 12) AS p
               FROM one_counts""")
    spark = _parquet(f"{check_dir}/onlyone")
    record("onlyone", "no output" if spark is None else compare(one, spark),
           f"{len(one)} keys")
    for name, col, conv in (("results", "cnt", int), ("probabilities", "p", float)):
        try:
            rows = _sink_lines(f"{check_dir}/{name}")
            got = pd.DataFrame({"bigram": [k for k, _ in rows],
                                col: [conv(v) for _, v in rows]})
            record(name, compare(probs[["bigram", col]], got), f"{len(got)} lines")
        except (OSError, ValueError) as e:
            record(name, str(e), "")
    split = q("""SELECT substring(w, 1, 1) AS first_letter, count(*) AS n
                 FROM main_kept GROUP BY 1""")
    got = []
    for d in sorted(glob.glob(f"{check_dir}/split/first_letter=*")):
        n = 0
        for p in glob.glob(f"{d}/part-*"):
            with open(p, encoding="utf-8") as f:
                n += sum(1 for _ in f)
        got.append((d.rsplit("=", 1)[1], n))
    record("split", compare(split, pd.DataFrame(got, columns=["first_letter", "n"])),
           f"{len(got)} letter directories")
    counts = q("""SELECT (SELECT count(*) FROM lines) AS kept_lines,
                         (SELECT count(*) FROM main_kept) AS main_words""")
    return out, {k: int(v) for k, v in counts.iloc[0].items()}
