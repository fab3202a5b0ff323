"""Output checks. Every expected value comes from a fact the plan planted
or from an independent recomputation (DuckDB over the engine's own silver
output, numpy in double precision), never from a second copy of the
engine's code. Each check returns a list of problems; empty means correct.
"""

import math
import re

import duckdb
import numpy as np

# Floors for the two quality ratios. They sit below what a working engine
# reaches on every seed (near-dup recall 1.0, IVF recall@10 ~0.99 with
# nprobe 4 of 16 cells) and far above what a broken stage would give.
DUP_RECALL_FLOOR = 0.95
RECALL_AT_10_FLOOR = 0.90

GOLD_TABLES = {"q40_fintech_daily": "agg_daily_metrics",
               "q41_fintech_c360": "agg_customer_360",
               "q42_aml_ctr": "aml_ctr",
               "q43_aml_structuring": "aml_structuring"}


def _sorted(rows):
    return sorted(rows, key=repr)


def compare_rows(name, engine_rows, oracle_rows):
    """Exact multiset equality of two row lists."""
    a, b = _sorted(engine_rows), _sorted(oracle_rows)
    if len(a) != len(b):
        return [f"{name}: engine has {len(a)} rows, expected {len(b)}"]
    for x, y in zip(a, b):
        if x != y:
            return [f"{name}: row {x!r} differs from expected {y!r}"]
    return []


def check_quarantine(planned, quarantine_ids, silver_ids, bronze_rows):
    """Quarantine holds exactly the planted defect rows; silver holds every
    other bronze row, each duplicate twice; silver + quarantine = bronze."""
    problems = []
    want = sorted(d["id"] for d in planned["defects"])
    if sorted(quarantine_ids) != want:
        missing = sorted(set(want) - set(quarantine_ids))
        extra = sorted(set(quarantine_ids) - set(want))
        problems.append(f"quarantine ids differ from planted defects: "
                        f"missing {missing[:5]}, unexpected {extra[:5]}")
    if len(silver_ids) + len(quarantine_ids) != bronze_rows:
        problems.append(f"silver {len(silver_ids)} + quarantine "
                        f"{len(quarantine_ids)} != bronze {bronze_rows}")
    dups = set(planned["duplicates"])
    counts = {}
    for i in silver_ids:
        counts[i] = counts.get(i, 0) + 1
    wrong = [i for i in dups if counts.get(i) != 2]
    if wrong:
        problems.append(f"planted duplicates not twice in silver: {wrong[:5]}")
    if any(c != 1 for i, c in counts.items() if i not in dups):
        problems.append("a non-duplicate id appears more than once in silver")
    if dups & set(want):
        problems.append("plan error: duplicates overlap defects")
    return problems


def check_uniqueness(planned, failed_count):
    n = len(planned["duplicates"])
    if failed_count != n:
        return [f"uniqueness failedCount {failed_count}, planted {n}"]
    return []


def _gold_projection(con, path):
    """The q40-q43 gate projection: DECIMAL columns read as DOUBLE."""
    cols = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
    return ", ".join(
        f'CAST("{c}" AS DOUBLE) AS "{c}"' if t.startswith("DECIMAL") else f'"{c}"'
        for c, t, *_ in cols)


def oracle_sql(sql, lake):
    """Point the repository's oracle SQL at the engine's silver output."""
    def repl(m):
        name = m.group(1)
        if name == "silver_txns":
            return (f"read_parquet('{lake}/silver/transactions/**/*.parquet', "
                    "hive_partitioning = true)")
        if name == "silver_customers":
            return f"read_parquet('{lake}/silver/customers/*.parquet')"
        raise ValueError(f"unexpected oracle input {name}")
    return re.sub(r"read_parquet\('__GRAFT_OUT___inputs/(\w+)/\*\.parquet'\)",
                  repl, sql)


def medallion(planned, params, result):
    lake = result["lake"]
    if not lake:
        return ["no pipeline run completed"]
    con = duckdb.connect()
    q = con.execute(f"SELECT transaction_id FROM read_parquet("
                    f"'{lake}/quarantine/transactions/*.parquet')").fetchall()
    s = con.execute(f"SELECT transaction_id FROM read_parquet("
                    f"'{lake}/silver/transactions/**/*.parquet', "
                    "hive_partitioning = true)").fetchall()
    bronze_rows = params["transactions"] + len(planned["duplicates"])
    problems = check_quarantine(planned, [r[0] for r in q], [r[0] for r in s],
                                bronze_rows)
    problems += check_uniqueness(planned, result["uniqueness_failed"])
    for name, table in GOLD_TABLES.items():
        expected = con.execute(oracle_sql(result["oracle_sql"][name], lake))
        cols = [d[0] for d in expected.description]
        oracle_rows = expected.fetchall()
        path = f"{lake}/gold/{table}"
        proj = _gold_projection(con, path)
        engine_rows = con.execute(
            f"SELECT {', '.join(chr(34) + c + chr(34) for c in cols)} FROM "
            f"(SELECT {proj} FROM read_parquet('{path}/*.parquet'))").fetchall()
        if not oracle_rows:
            problems.append(f"{name}: oracle returned no rows")
        problems += compare_rows(name, engine_rows, oracle_rows)
        if name == "q42_aml_ctr":
            large = {e["id"] for e in planned["large"]}
            missing = large - {r[cols.index("transaction_id")] for r in engine_rows}
            if missing:
                problems.append(f"planted CTR rows missing: {sorted(missing)[:5]}")
    return problems


def expected_cdc_state(planned, n, batches_done):
    """Live ids and their planted overrides after `batches_done` batches."""
    live = {"TXN%09d" % i: None for i in range(n)}
    for b in planned["batches"][:batches_done]:
        for u in b["updates"]:
            live[u["id"]] = (u["amount"], u["fee"], u["status"])
        for i in b["inserts"]:
            live[i] = None
        for i in b["deletes"]:
            del live[i]
    return live


def cdc_merge(planned, params, result):
    import pyarrow as pa
    done = result.get("batches_done", 0)
    if done == 0:
        return ["no change batch completed"]
    live = expected_cdc_state(planned, params["transactions"], done)
    ids = sorted(live)
    ov = [live[i] for i in ids]
    con = duckdb.connect()
    con.register("live", pa.table({
        "transaction_id": ids,
        "amount": [o and o[0] for o in ov],
        "fee": [o and o[1] for o in ov],
        "status": [o and o[2] for o in ov]}))
    pool = result["pool"]
    work = params["work"]
    con.execute(f"""CREATE TABLE expected AS
        SELECT p.* REPLACE (
          COALESCE(CAST(l.amount AS DECIMAL(18,2)), p.amount_usd) AS amount_usd,
          COALESCE(CAST(l.fee AS DECIMAL(18,2)), p.fee_amount) AS fee_amount,
          COALESCE(l.status, p.status) AS status)
        FROM read_parquet('{pool}/*.parquet') p
        JOIN live l USING (transaction_id)""")
    con.execute(f"CREATE TABLE actual AS SELECT * FROM read_parquet('{work}/final/*.parquet')")
    problems = []
    for a, b in (("expected", "actual"), ("actual", "expected")):
        n = con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
                        f"SELECT * FROM {b})").fetchone()[0]
        if n:
            problems.append(f"final snapshot: {n} rows in {a} but not in {b}")
    truth = con.execute("""SELECT customer_id, count(*),
        CAST(SUM(amount_usd) AS DECIMAL(38,2)), CAST(SUM(fee_amount) AS DECIMAL(38,2))
        FROM expected GROUP BY 1""").fetchall()
    for name in ("state", "recomputed"):
        rows = con.execute(f"""SELECT customer_id, n, sum_amount_usd, sum_fee_amount
            FROM read_parquet('{work}/{name}/*.parquet')""").fetchall()
        problems += compare_rows(f"gold {name}", rows, truth)
    return problems


def check_corpus(planned, curated_ids, floor=DUP_RECALL_FLOOR):
    """Returns (problems, dup_recall, near_removed)."""
    kinds = dict(zip(planned["ids"], planned["kinds"]))
    kept = set(curated_ids)
    problems = []
    if len(kept) != len(curated_ids):
        problems.append("curated output repeats a doc id")
    for kind in ("exact", "blank", "junk"):
        bad = sorted(i for i in kept if kinds.get(i) == kind)
        if bad:
            problems.append(f"planted {kind} docs survived curation: {bad[:5]}")
    lost = sorted(i for i, k in kinds.items() if k == "original" and i not in kept)
    if lost:
        problems.append(f"clean originals were removed: {lost[:5]}")
    near = [i for i, k in kinds.items() if k == "near"]
    removed = sum(1 for i in near if i not in kept)
    recall = removed / len(near) if near else 1.0
    if recall < floor:
        problems.append(f"near-dup recall {recall:.4f} below floor {floor}")
    return problems, recall, removed


def corpus_curate(planned, params, result):
    if not result.get("curated"):
        return ["no curate run completed"], 0.0, 0
    ids = duckdb.connect().execute(
        f"SELECT doc_id FROM read_parquet('{result['curated']}/*.parquet')").fetchall()
    return check_corpus(planned, [r[0] for r in ids])


def exact_top10(planned, query_ids):
    """Exact cosine top-10 per query in double precision (ties by id)."""
    corpus = planned["corpus"]
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    index = {int(q): k for k, q in enumerate(planned["query_ids"])}
    out = {}
    for q in query_ids:
        v = planned["queries"][index[q]]
        sims = cn @ (v / np.linalg.norm(v))
        order = np.lexsort((planned["corpus_ids"], -sims))[:10]
        out[q] = set(planned["corpus_ids"][order].tolist())
    return out


def check_vectors(planned, neighbours, floor=RECALL_AT_10_FLOOR):
    """`neighbours` rows are (query_id, neighbor_id, sim, rank) from every
    topK batch. Returns (problems, recall_at_10)."""
    problems = []
    corpus_ids = set(planned["corpus_ids"].tolist())
    by_query = {}
    for q, nb, sim, rank in neighbours:
        by_query.setdefault(q, []).append((rank, nb, sim))
    if not by_query:
        return ["no topK batch completed"], 0.0
    for q, rows in by_query.items():
        rows = sorted(rows)
        per_call = len(rows) // max(1, sum(1 for r in rows if r[0] == 1))
        if per_call != 10 or len(rows) % 10:
            problems.append(f"query {q}: {len(rows)} neighbour rows, not 10 per call")
            continue
        for rank, nb, sim in rows:
            if nb == q or nb not in corpus_ids:
                problems.append(f"query {q}: neighbour {nb} is not a corpus row")
            if abs(sim * 1e4 - round(sim * 1e4)) > 1e-6 or not -1 <= sim <= 1:
                problems.append(f"query {q}: similarity {sim} not a rounded cosine")
        sims = [s for _, _, s in rows[:10]]
        if any(a < b for a, b in zip(sims, sims[1:])):
            problems.append(f"query {q}: similarities not in rank order")
    exact = exact_top10(planned, sorted(by_query))
    hits = [len(exact[q] & {nb for _, nb, _ in by_query[q]}) / 10.0
            for q in sorted(by_query)]
    recall = float(np.mean(hits))
    if recall < floor or math.isnan(recall):
        problems.append(f"recall@10 {recall:.4f} below floor {floor}")
    return problems[:20], recall


def run_checks(parts, plans, params, result):
    """Returns (problems, quality values for the per-layer metrics)."""
    problems = [f"engine: {e}" for e in result.get("errors", [])
                if e.startswith("check:")]
    quality = {}
    for part in parts:
        planned, p = plans[part], params[part]
        if part == "medallion":
            problems += medallion(planned, p, result)
        elif part == "cdc_merge":
            problems += cdc_merge(planned, dict(p, work=params["work"]), result)
        elif part == "corpus_curate":
            found, recall, removed = corpus_curate(planned, p, result)
            problems += found
            quality.update({"corpus.dup_recall": recall,
                            "dedup.near_removed": removed})
        else:
            found, recall = check_vectors(planned, result.get("neighbours", []))
            problems += found
            quality["vector.recall_at_10"] = recall
    return problems, quality
