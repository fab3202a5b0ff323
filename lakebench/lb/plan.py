"""Seeded inputs and planted facts for every workload.

Everything here is a pure function of the seed and the sizes: the same
seed gives byte-identical inputs, another seed gives other inputs. The
planted facts (which rows are defective, which docs are copies) are what
the output checks compare the engine's results against.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per part. `min_iterations` is the least number of loop iterations
# a run makes, however short its window. When a part makes more than one,
# iteration 0 warms the JVM up and is left out of the figures; the
# medallion pipeline is too slow to repeat within the run-time budget and
# is measured cold.
SIZES = {
    "medallion": {"transactions": 20_000, "customers": 2_000,
                  "merchants": 200, "days": 10, "defects": 35,
                  "duplicates": 10, "large": 10, "min_iterations": 1},
    "cdc_merge": {"transactions": 20_000, "customers": 2_000,
                  "merchants": 200, "days": 10, "seed_files": 8,
                  "batches": 60, "updates": 300, "inserts": 100,
                  "deletes": 100, "min_iterations": 4},
    "corpus_curate": {"docs": 3_000, "min_iterations": 3},
    "vector_search": {"corpus": 10_000, "queries": 500, "dim": 64,
                      "clusters": 24, "cells": 16, "iters": 3, "nprobe": 4,
                      "query_batch": 50, "min_iterations": 7},
}

STATUSES = ["COMPLETED", "PENDING", "FAILED", "REVERSED"]

# One bad value per defect kind; each fails exactly one row-level check of
# `Pipeline.transactionChecks`, so the row must land in quarantine.
DEFECTS = [
    ("customer_id", None),                        # completeness
    ("currency", "   "),                          # completeness (blank)
    ("amount", "-12.50"),                         # amount_in_bounds
    ("amount", "250000.00"),                      # amount_in_bounds
    ("transaction_timestamp", "2024-13-45 25:61:00"),  # timestamp_parseable
    ("status", "UNKNOWN"),                        # validity_status
    ("transaction_type", "GIFT"),                 # validity_transaction_type
]


def txn_id(i):
    return "TXN%09d" % i


def medallion_plan(seed, sizes):
    """Planted row-level defects and verbatim duplicates over the
    `DataGenerator` transaction ids 0..n-1; the two sets are disjoint."""
    rng = np.random.default_rng([seed, 1])
    n, nd, nu = sizes["transactions"], sizes["defects"], sizes["duplicates"]
    picked = rng.choice(n, size=nd + nu + sizes["large"], replace=False)
    defects = []
    for k, i in enumerate(sorted(picked[:nd].tolist())):
        column, value = DEFECTS[k % len(DEFECTS)]
        defects.append({"id": txn_id(i), "column": column, "value": value})
    duplicates = [txn_id(i) for i in sorted(picked[nd:nd + nu].tolist())]
    # valid rows at or above the $10,000 CTR line, so the AML screen always
    # has rows to report
    large = []
    for i in sorted(picked[nd + nu:].tolist()):
        amount = _money(rng, 10_000, 60_000)
        large += [{"id": txn_id(i), "column": c, "value": amount}
                  for c in ("amount", "amount_usd")]
    return {"defects": defects, "duplicates": duplicates, "large": large}


def _money(rng, lo, hi):
    return "%.2f" % (rng.integers(int(lo * 100), int(hi * 100)) / 100.0)


def cdc_plan(seed, sizes):
    """Change batches over a table seeded with ids 0..n-1. The updates and
    deletes of a batch fall in the newest tenth of the live ids, the
    inserts take fresh ids from n upward. Updates and deletes of one batch
    are disjoint."""
    rng = np.random.default_rng([seed, 2])
    n = sizes["transactions"]
    nb, nu, ni, nd = (sizes[k] for k in ("batches", "updates", "inserts",
                                         "deletes"))
    pool = nb * ni
    live = np.zeros(n + pool, dtype=bool)
    live[:n] = True
    next_id = n
    batches = []
    for _ in range(nb):
        ids = np.flatnonzero(live)
        newest = ids[-max(len(ids) // 10, nu + nd):]
        chosen = rng.choice(newest, size=nu + nd, replace=False)
        upd_ids, del_ids = chosen[:nu], chosen[nu:]
        updates = []
        for i in upd_ids.tolist():
            amount = _money(rng, 1, 5000)
            fee = "%.2f" % round(float(amount) * 0.02, 2)
            updates.append({"id": txn_id(i), "amount": amount, "fee": fee,
                            "status": STATUSES[int(rng.integers(4))]})
        inserts = list(range(next_id, next_id + ni))
        next_id += ni
        live[del_ids] = False
        live[inserts] = True
        batches.append({"updates": updates,
                        "inserts": [txn_id(i) for i in inserts],
                        "deletes": [txn_id(i) for i in sorted(del_ids.tolist())]})
    return {"batches": batches, "insert_pool": pool}


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=size)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def corpus_plan(seed, sizes):
    """Docs of 100-140 random words plus planted exact copies, near copies
    (one to three words replaced), blank or NULL texts and repetitive junk.
    Originals take the lowest ids, so every copy loses to its original."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 6000)
    v = len(vocab)
    total = sizes["docs"]
    n_orig = int(total * 0.80)
    n_exact, n_near = int(total * 0.05), int(total * 0.08)
    n_blank = int(total * 0.03)
    n_junk = total - n_orig - n_exact - n_near - n_blank

    def text(idx):
        return " ".join(vocab[idx]).capitalize() + "."

    words = [rng.integers(v, size=int(rng.integers(100, 141)))
             for _ in range(n_orig)]
    texts = [text(w) for w in words]
    planted = []
    for k, j in enumerate(rng.choice(n_orig, size=n_exact, replace=False)):
        planted.append(("exact", texts[j].upper() if k % 2 else texts[j]))
    for j in rng.choice(n_orig, size=n_near, replace=False):
        w = words[j].copy()
        pos = rng.choice(len(w), size=int(rng.integers(1, 4)), replace=False)
        w[pos] = (w[pos] + rng.integers(1, v, size=len(pos))) % v
        planted.append(("near", text(w)))
    for k in range(n_blank):
        planted.append(("blank", [None, "", "   "][k % 3]))
    for _ in range(n_junk):
        phrase = " ".join(vocab[rng.integers(v, size=3)])
        planted.append(("junk", " ".join([phrase] * int(rng.integers(15, 30)))))
    order = rng.permutation(len(planted))
    ids, kinds = list(range(n_orig)), ["original"] * n_orig
    for k, j in enumerate(order.tolist()):
        ids.append(n_orig + k)
        kinds.append(planted[j][0])
        texts.append(planted[j][1])
    return {"ids": ids, "kinds": kinds, "texts": texts}


def vector_plan(seed, sizes):
    """Clustered unit-norm embeddings plus held-out queries from the same
    mixture; query ids never occur in the corpus."""
    rng = np.random.default_rng([seed, 4])
    dim, c = sizes["dim"], sizes["clusters"]
    centers = rng.standard_normal((c, dim))

    def draw(n):
        x = centers[rng.integers(c, size=n)] + 0.6 * rng.standard_normal((n, dim))
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    corpus = draw(sizes["corpus"])
    queries = draw(sizes["queries"])
    return {"corpus_ids": np.arange(len(corpus), dtype=np.int64),
            "corpus": corpus,
            "query_ids": np.arange(len(queries), dtype=np.int64) + 10_000_000,
            "queries": queries}


def write_corpus(plan, path):
    pq.write_table(pa.table({"doc_id": pa.array(plan["ids"], pa.int64()),
                             "text": pa.array(plan["texts"], pa.string())}),
                   path)


def write_vectors(ids, vecs, path):
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "vec": pa.array(list(vecs), pa.list_(pa.float64()))}),
                   path)


WORKLOADS = {"lakehouse": ("medallion", "cdc_merge"),
             "corpus_search": ("corpus_curate", "vector_search")}


def part_params(part, seed, work):
    """One part's JVM settings and the plan its checks need. Inputs
    generated here are written under `work`."""
    sizes = SIZES[part]
    p = dict(sizes)
    if part == "medallion":
        plan = medallion_plan(seed, sizes)
        p.update(plan)
    elif part == "cdc_merge":
        plan = cdc_plan(seed, sizes)
        p.update(plan)
    elif part == "corpus_curate":
        plan = corpus_plan(seed, sizes)
        p["corpus"] = f"{work}/corpus.parquet"
        write_corpus(plan, p["corpus"])
    else:
        plan = vector_plan(seed, sizes)
        p["corpus"] = f"{work}/vectors.parquet"
        p["queries"] = f"{work}/queries.parquet"
        write_vectors(plan["corpus_ids"], plan["corpus"], p["corpus"])
        write_vectors(plan["query_ids"], plan["queries"], p["queries"])
    return p, plan


def params(workload, seed, seconds, work):
    """JVM params for a workload run (one section per part, each with its
    share of the measuring window) and the plans, by part."""
    params, plans = {}, {}
    for part in WORKLOADS[workload]:
        params[part], plans[part] = part_params(part, seed, work)
        params[part]["seconds"] = seconds / len(WORKLOADS[workload])
    return params, plans

