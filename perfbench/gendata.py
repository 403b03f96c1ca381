"""Seeded generators for the benchmark inputs.

`write` makes the `llm_ops` gate tables, `documents` and `embeddings`, with
the schemas and value shapes of the repository's test data.
`write_totesys` makes the `etl_ticks` source. The same seed always gives
the same values.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The gate tables are the same for every run, so runs differ only in gate
# order and a seed cannot change how much work a gate does.
GATE_DATA_SEED = 42
DOCUMENTS = 1000
EMBEDDINGS = 1000
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# Share of documents that repeat an earlier document plus " dup".
DUP_RATE = 0.05


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def write(seed, out_dir):
    """Writes `documents.parquet` and `embeddings.parquet` into out_dir."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), DOCUMENTS, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((EMBEDDINGS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# Totesys source for etl_ticks: the 11 source tables of `Schemas.sourceTables`.

TOTESYS_SIZES = {
    "address": 200, "counterparty": 100, "currency": 3, "department": 8,
    "design": 300, "payment_type": 4, "staff": 50, "sales_order": 100000,
    "purchase_order": 10000, "payment": 20000, "transaction": 30000,
}
# Rows the mutation inserts. Every mutated table gets inserts, so each delta
# holds the newest `created_at` and the next watermark dominates the last.
INSERTS = {"sales_order": 1000, "purchase_order": 100, "payment": 200,
           "transaction": 300}
# One existing row in BUMP_EVERY of a mutated table gets its
# `last_updated` moved to the mutation's tick.
BUMP_EVERY = 100
BASE = np.datetime64("2022-01-01T00:00:00", "s")
# Timestamp the mutation stamps on the rows it touches.
TICK = np.datetime64("2024-06-01T00:00:00", "s")


def _totesys_columns(name, ids, rng, sizes):
    n = len(ids)
    s = [str(i) for i in ids]

    def ref(table):
        return pa.array(rng.integers(1, sizes[table] + 1, n), pa.int32())

    def money(hi_cents):
        cents = rng.integers(100, hi_cents, n)
        return pa.array([f"{c // 100}.{c % 100:02d}" for c in cents]).cast(
            pa.decimal128(10, 2))

    def day():
        return [str(d) for d in _days(rng, n, "2024-01-01", "2024-12-31")]

    def text(prefix):
        return [prefix + x for x in s]

    if name == "address":
        return {"address_line_1": text("line1-"), "address_line_2": text("line2-"),
                "district": text("district-"),
                "city": [f"city-{c}" for c in rng.integers(0, 40, n)],
                "postal_code": text("pc-"),
                "country": [f"country-{c}" for c in rng.integers(0, 12, n)],
                "phone": text("phone-")}
    if name == "counterparty":
        return {"counterparty_legal_name": text("cp-"),
                "legal_address_id": ref("address"),
                "commercial_contact": text("cc-"), "delivery_contact": text("dc-")}
    if name == "currency":
        return {"currency_code": ["GBP", "USD", "EUR"][:n]}
    if name == "department":
        return {"department_name": text("dept-"), "location": text("loc-"),
                "manager": text("mgr-")}
    if name == "design":
        return {"design_name": text("design-"), "file_location": text("/designs/"),
                "file_name": [f"file-{x}.json" for x in s]}
    if name == "payment_type":
        return {"payment_type_name": ["SALES_RECEIPT", "SALES_REFUND",
                                      "PURCHASE_PAYMENT", "PURCHASE_REFUND"][:n]}
    if name == "staff":
        return {"first_name": text("first-"), "last_name": text("last-"),
                "department_id": ref("department"),
                "email_address": [f"staff{x}@example.com" for x in s]}
    if name == "sales_order":
        return {"design_id": ref("design"), "staff_id": ref("staff"),
                "counterparty_id": ref("counterparty"),
                "units_sold": pa.array(rng.integers(1, 100001, n), pa.int32()),
                "unit_price": money(30000), "currency_id": ref("currency"),
                "agreed_delivery_date": day(), "agreed_payment_date": day(),
                "agreed_delivery_location_id": ref("address")}
    if name == "purchase_order":
        return {"staff_id": ref("staff"), "counterparty_id": ref("counterparty"),
                "item_code": text("item-"),
                "item_quantity": pa.array(rng.integers(1, 1001, n), pa.int32()),
                "item_unit_price": money(100000), "currency_id": ref("currency"),
                "agreed_delivery_date": day(), "agreed_payment_date": day(),
                "agreed_delivery_location_id": ref("address")}
    if name == "payment":
        return {"transaction_id": ref("transaction"),
                "counterparty_id": ref("counterparty"),
                "payment_amount": money(1000000), "currency_id": ref("currency"),
                "payment_type_id": ref("payment_type"),
                "paid": rng.integers(0, 2, n).astype(bool), "payment_date": day(),
                "company_ac_number": pa.array(
                    rng.integers(10**7, 10**8, n), pa.int32()),
                "counterparty_ac_number": pa.array(
                    rng.integers(10**7, 10**8, n), pa.int32())}
    if name == "transaction":
        sale = rng.integers(0, 2, n).astype(bool)
        so = rng.integers(1, sizes["sales_order"] + 1, n)
        po = rng.integers(1, sizes["purchase_order"] + 1, n)
        return {"transaction_type": np.where(sale, "SALE", "PURCHASE"),
                "sales_order_id": pa.array(so, pa.int32(), mask=~sale),
                "purchase_order_id": pa.array(po, pa.int32(), mask=sale)}
    raise KeyError(name)


def totesys(seed):
    """Returns ({version: {table: pyarrow.Table}}, manifest). Version 0 is
    the base; version 1 adds the mutation: INSERTS[t] new rows stamped at
    TICK and a `last_updated` bump to TICK on one existing row in
    BUMP_EVERY. Unmutated tables appear in version 0 only. The manifest
    holds table sizes, the tick time and the slice the mutation stamps."""
    rng = np.random.default_rng([seed, 1])
    out = {0: {}, 1: {}}
    slices = {}
    sizes = TOTESYS_SIZES
    for name, n0 in sizes.items():
        ins = INSERTS.get(name, 0)
        n_all = n0 + ins
        ids = np.arange(1, n_all + 1)
        cols = _totesys_columns(name, ids, rng, sizes)
        inserted = ids > n0
        base_created = BASE + rng.integers(0, 2 * 365 * 86400, n_all).astype(
            "timedelta64[s]")
        created = np.where(inserted, TICK, base_created)
        updated = np.where(inserted, TICK, base_created
                           + rng.integers(0, 30 * 86400, n_all).astype("timedelta64[s]"))
        for v in (0, 1) if ins else (0,):
            if v == 1:
                bump = rng.integers(0, BUMP_EVERY, n_all) == 0
                updated = np.where(bump, TICK, updated)
                slices[name] = int(np.sum(updated == TICK))
            rows = n0 + ins * v
            table = {f"{name}_id": pa.array(ids[:rows], pa.int32())}
            table.update({k: (c.slice(0, rows) if isinstance(c, pa.Array) else c[:rows])
                          for k, c in cols.items()})
            table["created_at"] = _utc(created[:rows])
            table["last_updated"] = _utc(updated[:rows])
            out[v][name] = pa.table(table)
    manifest = {
        "sizes": sizes, "mutated": sorted(INSERTS),
        "tick_us": int(TICK.astype("datetime64[us]").astype(np.int64)),
        "slices": slices}
    return out, manifest


def _utc(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))


def write_totesys(seed, out_dir):
    """Directories v0 and v1, each holding all 11 tables; unmutated tables
    in v1 are links to v0's copy."""
    data, manifest = totesys(seed)
    for v in (0, 1):
        vdir = os.path.join(out_dir, f"v{v}")
        os.makedirs(vdir)
        for name in TOTESYS_SIZES:
            path = os.path.join(vdir, f"{name}.parquet")
            if name in data[v]:
                os.makedirs(path)
                pq.write_table(data[v][name], os.path.join(path, "part-0.parquet"))
            else:
                os.symlink(os.path.join(out_dir, "v0", f"{name}.parquet"), path)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
