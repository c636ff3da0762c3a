"""Seeded input generators for the three benchmark workloads.

Every input is one parquet file with a single row group, like the fixtures
the engine is tested on, so Spark reads it as one split. Each generator also
writes `truth.json`: the facts it planted, which the benchmark compares each
call's output against. Facts are planted with wide margins (3-sigma outliers
orders of magnitude out, near-duplicates far above and near-misses far below
the 0.8 Jaccard threshold), so the correct output is exact.

The same seed gives byte-identical files; see test_perfbench.py.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Even at these sizes a warm call takes 4-7 s on 4 cores, most
# of it fixed per-job and code-generation cost; README.md says why they are
# not larger.
PROFILE_ROWS = 40_000
PROFILE_DUPLICATES = 40
VALIDATE_ORDERS = 100_000
VALIDATE_CUSTOMERS = 20_000
CORPUS_DOCS = 800
CORPUS_WORDS = (80, 120)

EPOCH = dt.date(1970, 1, 1)


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _days(rng, n, start, end):
    lo, hi = (start - EPOCH).days, (end - EPOCH).days
    return rng.integers(lo, hi, n).astype("int32")


def _three_sigma(values):
    """Count of values beyond 3 sample standard deviations of the mean,
    the profiler's outlier rule (nulls excluded)."""
    v = values[~np.isnan(values)]
    mean, std = v.mean(), v.std(ddof=1)
    return int(((v < mean - 3 * std) | (v > mean + 3 * std)).sum())


# ---- profile_wide ---------------------------------------------------------

PROFILE_OUTLIERS = {"price": 6, "score": 4}


def profile_wide(seed, out):
    """One 8-column table (1 id, 3 numeric, 2 text, 2 date/time columns)
    with planted nulls, exact duplicate rows and 3-sigma outliers, plus
    the historical profile the CLI's --compare reads."""
    rng = np.random.default_rng([seed, 1])
    n = PROFILE_ROWS
    cols = {}
    cols["row_id"] = rng.permutation(n).astype("int64")
    cols["qty"] = rng.integers(1, 51, n).astype("int64")
    cols["price"] = rng.uniform(0, 1000, n)
    cols["score"] = rng.uniform(0, 1, n)

    # Outliers go on distinct rows; duplicates are drawn from other rows so
    # the copies add no outliers.
    rows = rng.permutation(n)
    at = 0
    outlier_rows = []
    for name, k in PROFILE_OUTLIERS.items():
        idx = rows[at:at + k]
        at += k
        signs = np.where(np.arange(k) % 2 == 0, 1.0, -1.0)
        cols[name][idx] = signs * (1e7 + np.arange(k))
        outlier_rows.extend(int(i) for i in idx)
    dup_src = rows[at:at + PROFILE_DUPLICATES]

    categories = np.array([f"cat_{i:02d}" for i in range(20)])
    cols["category"] = categories[rng.integers(0, 20, n)]
    ids = np.arange(n).astype(str)
    cols["email"] = np.where(rng.random(n) < 0.7,
                             np.char.add(np.char.add("user", ids), "@example.com"),
                             np.char.add("not-an-email-", ids))
    cols["order_date"] = _days(rng, n, dt.date(2000, 1, 1), dt.date(2021, 1, 1))
    base_ms = (dt.date(2010, 1, 1) - EPOCH).days * 86_400_000
    cols["updated_ts"] = base_ms + rng.integers(0, 10**12, n)

    null_share = {"price": 0.02, "email": 0.05}
    masks = {}
    for name, share in null_share.items():
        m = rng.random(n) < share
        m[outlier_rows] = False  # keep every planted outlier visible
        masks[name] = m

    order = np.concatenate([np.arange(n), dup_src])
    rng.shuffle(order)
    types = {
        "row_id": pa.int64(), "qty": pa.int64(), "price": pa.float64(),
        "score": pa.float64(), "category": pa.string(), "email": pa.string(),
        "order_date": pa.date32(), "updated_ts": pa.timestamp("ms", tz="UTC"),
    }
    arrays = []
    nulls = {}
    for name, typ in types.items():
        values = cols[name][order]
        mask = masks[name][order] if name in masks else None
        nulls[name] = int(mask.sum()) if mask is not None else 0
        arrays.append(pa.array(values, type=typ, mask=mask))
    table = pa.Table.from_arrays(arrays, names=list(types))
    path = os.path.join(out, "wide.parquet")
    _write(table, path)

    outliers = {}
    for name in ("row_id", "qty", "price", "score"):
        v = table.column(name).to_numpy(zero_copy_only=False).astype("float64")
        count = _three_sigma(v)
        assert count == PROFILE_OUTLIERS.get(name, 0), (name, count)
        if count:
            outliers[name] = count

    rows_total = table.num_rows
    historical = {
        "table": "wide",
        "timestamp": "2026-01-01T00:00:00Z",
        "row_count": int(rows_total * 0.8),
        "duplicate_count": 0,
        "completeness": {
            name: {"nulls": 0, "null_percentage": 0.0,
                   "distinct_count": 0, "distinct_percentage": 0.0}
            for name in list(types) + ["legacy_col"]},
        "trends": {"row_counts": [{"timestamp": "2025-12-31T00:00:00Z",
                                   "value": float(int(rows_total * 0.75))}],
                   "null_rates": {}, "duplicates": []},
    }
    with open(os.path.join(out, "historical.json"), "w") as f:
        json.dump(historical, f, sort_keys=True)
    truth = {"rows": rows_total, "nulls": nulls,
             "duplicate_count": PROFILE_DUPLICATES, "outliers": outliers}
    return {"table": path, "historical": os.path.join(out, "historical.json"),
            "rows": rows_total}, truth


# ---- validate_suite -------------------------------------------------------

ORDER_STATUSES = ["new", "paid", "shipped", "returned", "cancelled"]
REGIONS = ["north", "south", "east", "west"]


def validate_suite(seed, out):
    """Two related tables and a rule file of non-fusable shapes
    (subqueries, group-by, joins, between). The truth is the expected
    `is_valid` of every default and file rule, by name."""
    rng = np.random.default_rng([seed, 2])
    n, m = VALIDATE_ORDERS, VALIDATE_CUSTOMERS

    cust_id = np.arange(1, m + 1, dtype="int64")
    # 97% of customers in one region: the distribution rule must fail.
    region = np.where(rng.random(m) < 0.97, "north",
                      np.array(REGIONS)[rng.integers(1, 4, m)])
    region[:3] = ["south", "east", "west"]
    customers = pa.table({
        "cust_id": pa.array(cust_id),
        "region": pa.array(region),
    })

    orphans = 17
    customer_id = rng.integers(1, m + 1, n).astype("int64")
    customer_id[rng.choice(n, orphans, replace=False)] = m + 1000
    quantity = rng.integers(1, 100, n).astype("int64")
    negative_qty = rng.choice(n, 5, replace=False)
    quantity[negative_qty] = -1
    total_price = rng.uniform(1, 500, n)
    price_outliers = 25
    planted = rng.choice(n, 12 + price_outliers, replace=False)
    total_price[planted[:12]] = 0.0
    total_price[planted[12:]] = 1e7
    price_mask = rng.random(n) < 0.03
    price_mask[planted] = False
    status = np.array(ORDER_STATUSES)[rng.integers(0, 5, n)]
    base = _days(rng, n, dt.date(2001, 1, 1), dt.date(2019, 1, 1))
    completed = base + rng.integers(0, 60, n).astype("int32")
    planted_dates = rng.choice(n, 13, replace=False)
    early, old = planted_dates[:9], planted_dates[9:]
    completed[early] = base[early] - 1  # completed before created
    created = base.copy()
    created[old] = (dt.date(1965, 6, 1) - EPOCH).days  # before 1970
    completed_mask = rng.random(n) < 0.2
    completed_mask[early] = False
    orders = pa.table({
        "order_id": pa.array(rng.permutation(n).astype("int64") + 1),
        "customer_id": pa.array(customer_id),
        "quantity": pa.array(quantity),
        "total_price": pa.array(total_price, mask=price_mask),
        "order_status": pa.array(status),
        "created_date": pa.array(created, type=pa.date32()),
        "completed_date": pa.array(completed, type=pa.date32(), mask=completed_mask),
    })
    orders_path = os.path.join(out, "orders.parquet")
    customers_path = os.path.join(out, "customers.parquet")
    _write(orders, orders_path)
    _write(customers, customers_path)

    tp = np.where(price_mask, np.nan, total_price)
    truth = {
        # Default rules on `orders` (DefaultValidations families D1-D15).
        "check_orders_not_empty": True,
        "check_orders_row_growth": True,
        "check_order_id_unique": True,
        "check_customer_id_unique": False,
        "check_order_id_positive": True,
        "check_customer_id_positive": True,
        "check_quantity_positive": False,
        "check_total_price_positive": True,
        "check_total_price_not_zero": False,
        "check_created_date_not_future": True,
        "check_created_date_reasonable_past": False,
        "check_completed_date_reasonable_past": True,
        "check_completed_date_end_date_order": False,
        "check_order_id_outliers": True,
        "check_customer_id_outliers": _three_sigma(customer_id.astype(float)) < 20,
        "check_quantity_outliers": True,
        "check_total_price_outliers": _three_sigma(tp) < 20,
        "check_total_price_null_rate": True,
        "check_order_status_null_rate": True,
        "check_order_status_distribution": True,
        # Default rules on `customers`.
        "check_customers_not_empty": True,
        "check_customers_row_growth": True,
        "check_cust_id_unique": True,
        "check_cust_id_positive": True,
        "check_cust_id_outliers": True,
        "check_region_distribution": False,
    }
    assert _three_sigma(tp) == price_outliers
    rules = [
        ("file_orphan_orders", "SELECT COUNT(*) FROM orders o LEFT ANTI JOIN customers c "
         "ON o.customer_id = c.cust_id", "equals", orphans, True),
        ("file_status_groups", "SELECT COUNT(*) FROM (SELECT order_status, COUNT(*) AS c "
         "FROM orders GROUP BY order_status) t", "equals", len(ORDER_STATUSES), True),
        ("file_big_spenders", "SELECT COUNT(*) FROM orders WHERE total_price > "
         "(SELECT AVG(total_price) * 100 FROM orders)", "equals", price_outliers, True),
        ("file_avg_quantity", "SELECT AVG(quantity) FROM orders", "between", [40, 60], True),
    ]
    rule_doc = {"rules": [{"name": r[0], "query": r[1], "operator": r[2],
                           "expected_value": r[3]} for r in rules]}
    rules_path = os.path.join(out, "rules.json")
    with open(rules_path, "w") as f:
        json.dump(rule_doc, f, indent=1, sort_keys=True)
    truth.update({r[0]: r[4] for r in rules})
    return {"orders": orders_path, "customers": customers_path, "rules": rules_path,
            "rows": orders.num_rows + customers.num_rows}, {"rules": truth}


# ---- curate_corpus --------------------------------------------------------

def shingles(text, n=3):
    """Distinct word n-grams, as the dedup operator forms them."""
    w = text.split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def curate_corpus(seed, out):
    """A text corpus with planted exact-duplicate clusters, near-duplicate
    clusters (one word substituted per variant, Jaccard >= 0.85 to the
    base) and near-miss pairs (the last third of the words replaced,
    Jaccard about 0.5, so LSH makes them candidates and verification
    rejects them). The truth is the set of doc ids the components policy drops:
    every member of a planted cluster except its smallest id."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i:04d}" for i in range(5000)])

    def doc():
        return list(vocab[rng.integers(0, len(vocab), rng.integers(*CORPUS_WORDS))])

    texts = []
    clusters = []
    near_miss = []
    for _ in range(60):  # exact-duplicate clusters of 2-4 copies
        base = " ".join(doc())
        k = int(rng.integers(2, 5))
        clusters.append(list(range(len(texts), len(texts) + k)))
        texts.extend([base] * k)
    for _ in range(80):  # near-duplicate clusters of 2-4 variants
        base = doc()
        members = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(int(rng.integers(1, 4))):
            v = list(base)
            v[int(rng.integers(0, len(v)))] = str(vocab[rng.integers(0, len(vocab))]) + "x"
            members.append(len(texts))
            texts.append(" ".join(v))
        clusters.append(members)
    for _ in range(80):  # near-miss pairs, never merged
        base = doc()
        other = list(base)
        for i in range(len(other) - len(other) // 3, len(other)):
            other[i] = str(vocab[rng.integers(0, len(vocab))]) + "y"
        near_miss.append((len(texts), len(texts) + 1))
        texts.extend([" ".join(base), " ".join(other)])
    while len(texts) < CORPUS_DOCS:
        texts.append(" ".join(doc()))

    # Shuffle positions, then give ids in position order, so planted
    # clusters are spread over the file.
    perm = rng.permutation(len(texts))
    pos_of = np.empty_like(perm)
    pos_of[perm] = np.arange(len(perm))
    doc_ids = np.arange(len(texts), dtype="int64") * 7 + 1000
    ordered = [texts[i] for i in perm]

    def ident(orig):
        return int(doc_ids[pos_of[orig]])

    dropped = []
    for members in clusters:
        for m in members[1:]:
            assert jaccard(texts[members[0]], texts[m]) >= 0.85
        ids = sorted(ident(m) for m in members)
        dropped.extend(ids[1:])
    for a, b in near_miss:
        assert jaccard(texts[a], texts[b]) <= 0.6
    table = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(ordered)})
    path = os.path.join(out, "corpus.parquet")
    _write(table, path)
    truth = {"docs": len(texts), "dropped": sorted(dropped),
             "kept": len(texts) - len(dropped)}
    return {"corpus": path, "rows": len(texts)}, truth


WORKLOADS = {
    "profile_wide": profile_wide,
    "validate_suite": validate_suite,
    "curate_corpus": curate_corpus,
}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; returns
    (inputs, truth) and writes both as JSON beside the data."""
    os.makedirs(out, exist_ok=True)
    inputs, truth = WORKLOADS[workload](seed, out)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(inputs, f, sort_keys=True)
    return inputs, truth
