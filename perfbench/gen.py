"""Seeded inputs for the benchmark workloads.

ETL inputs (etl_batch, etl_stream): JSON-lines order files from two sources.
Source ``eu`` carries every column; source ``us`` lacks ``channel``, so the
reader's by-name union fills it with NULL. The generator plants invalid rows
(empty, NULL, regex and length failures), rows the filter drops (qty = 0) and
duplicates of an ``order_key``. Duplicates stay inside one file, so a
per-micro-batch dedup equals the global one. ``manifest.json`` is the expected
result, computed here by an independent implementation of the document's
rules; the same seed gives a byte-identical manifest.

Curation corpus (curate_gates): a ``documents`` parquet table in the shape of
the repository's sf fixtures (31-word vocabulary, near-duplicate "dup"
variants, five languages, twenty sources).
"""
import hashlib
import json
import os
import random
import re

SKU_RE = re.compile(r"^[A-Z]{3}-[0-9]{4}$")
ROW_ID_STRIDE = 100000  # id = file_index * stride + row: ids name their file

SCHEMA_DDL = ("id BIGINT, customer STRING, sku STRING, qty BIGINT, country STRING, "
              "price_cents BIGINT, channel STRING, order_key STRING")


def document(sources, sinks_root):
    """The metadata document: add_fields, validate_fields (all four rules),
    deduplicate and filter_expr; OK to parquet and json, KO to json."""
    return {"dataflows": [{
        "name": "orders",
        "sources": [{"name": f"orders_{s}", "path": p, "format": "JSON",
                     "schema": SCHEMA_DDL} for s, p in sources],
        "transformations": [
            {"name": "derive", "type": "add_fields", "params": {"addFields": [
                {"name": "amount_cents", "function": "price_cents * qty"},
                {"name": "channel_norm", "function": "coalesce(upper(channel), 'NONE')"},
                {"name": "sku_family", "function": "substring(sku, 1, 3)"}]}},
            {"name": "validation", "type": "validate_fields", "params": {"validations": [
                {"field": "customer", "validations": ["notEmpty"]},
                {"field": "qty", "validations": ["notNull"]},
                {"field": "sku", "validations": ["matchesRegex:^[A-Z]{3}-[0-9]{4}$"]},
                {"field": "country", "validations": ["notNull", "minLength:2"]}]}},
            {"name": "dedup", "type": "deduplicate",
             "params": {"columns": ["order_key"], "keepBy": "id"}},
            {"name": "positive", "type": "filter_expr", "params": {"expr": "qty > 0"}}],
        "sinks": [
            {"input": "ok_with_date", "name": "ok-parquet", "paths": [f"{sinks_root}/ok"],
             "format": "PARQUET", "saveMode": "OVERWRITE"},
            {"input": "ok_with_date", "name": "ok-json", "paths": [f"{sinks_root}/ok"],
             "format": "JSON", "saveMode": "OVERWRITE"},
            {"input": "validation_ko", "name": "ko-json", "paths": [f"{sinks_root}/ko"],
             "format": "JSON", "saveMode": "OVERWRITE"}]}]}


def _rows(rng, file_index, n, with_channel):
    rows = []
    for k in range(n):
        if rows and rng.random() < 0.06:
            # duplicate of an earlier order in this file, possibly re-edited
            row = dict(rng.choice(rows))
            if rng.random() < 0.5:
                row["qty"] = rng.choice([None, 0, rng.randint(1, 20)])
        else:
            u = rng.random
            row = {
                "customer": "" if u() < 0.03 else None if u() < 0.02 else f"c{rng.randint(0, 49999)}",
                "sku": (None if u() < 0.01 else
                        f"{rng.choice(['ab', 'A1B', 'ABCD'])}-{rng.randint(0, 9999):04d}" if u() < 0.04 else
                        "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(3))
                        + f"-{rng.randint(0, 9999):04d}"),
                "qty": None if u() < 0.03 else 0 if u() < 0.02 else rng.randint(1, 20),
                "country": None if u() < 0.01 else "X" if u() < 0.02 else rng.choice(
                    ["DE", "FR", "ES", "PT", "US", "GB", "NLD", "ITA"]),
                "price_cents": rng.randint(100, 99999),
                "order_key": f"o{file_index}-{k}",
            }
            if with_channel:
                row["channel"] = None if u() < 0.05 else rng.choice(["web", "store", "app"])
        row["id"] = file_index * ROW_ID_STRIDE + k
        rows.append(row)
    return rows


def error_codes(r):
    codes = []
    if not r.get("customer"):
        codes.append("customer-notEmpty")
    if r.get("qty") is None:
        codes.append("qty-notNull")
    if r.get("sku") is None or not SKU_RE.match(r["sku"]):
        codes.append("sku-matchesRegex")
    if r.get("country") is None:
        codes.append("country-notNull")
    if r.get("country") is None or len(r["country"]) < 2:
        codes.append("country-minLength")
    return codes


def lines_digest(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def ok_line(r):
    ch = r.get("channel")
    return f"{r['id']}|{r['price_cents'] * r['qty']}|{ch.upper() if ch else 'NONE'}|{r['sku'][:3]}"


def ko_line(r):
    return f"{r['id']}|{','.join(error_codes(r))}"


def expected(rows):
    """Apply the document's rules: split, then dedup (min id per order_key),
    then the qty > 0 filter, over the OK split only."""
    ok, ko = [], []
    for r in rows:
        (ko if error_codes(r) else ok).append(r)
    survivors = {}
    for r in ok:
        cur = survivors.get(r["order_key"])
        if cur is None or r["id"] < cur["id"]:
            survivors[r["order_key"]] = r
    kept = [r for r in survivors.values() if r["qty"] > 0]
    return ok, ko, kept


def write_etl(seed, root, files_per_source, rows_per_file):
    """Write ``files_per_source`` files per source into ``root/<source>/`` and
    ``root/manifest.json``. Returns the manifest."""
    rng = random.Random(seed)
    all_rows, files = [], []
    fi = 0
    for src in ("eu", "us"):
        os.makedirs(f"{root}/{src}", exist_ok=True)
        for _ in range(files_per_source):
            fi += 1
            rows = _rows(rng, fi, rows_per_file, with_channel=(src == "eu"))
            name = f"{src}/part-{fi:05d}.json"
            with open(f"{root}/{name}", "w") as f:
                for r in rows:
                    f.write(json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n")
            _, ko, kept = expected(rows)
            files.append({"name": name, "index": fi, "rows": len(rows),
                          "ok_sha": lines_digest(sorted(ok_line(r) for r in kept)),
                          "ko_sha": lines_digest(sorted(ko_line(r) for r in ko))})
            all_rows.extend(rows)
    ok, ko, kept = expected(all_rows)
    kept_ids = {r["id"] for r in kept}
    codes = {}
    for r in ko:
        for c in error_codes(r):
            codes[c] = codes.get(c, 0) + 1
    manifest = {
        "seed": seed, "rows": len(all_rows), "files": files,
        "split_ok": len(ok), "ko": len(ko), "ok": len(kept),
        "dedup_dropped": len(ok) - len({r["order_key"] for r in ok}),
        "filtered": len({r["order_key"] for r in ok}) - len(kept),
        "codes": codes,
        "ok_sha": lines_digest(sorted(ok_line(r) for r in kept)),
        "ko_sha": lines_digest(sorted(ko_line(r) for r in ko)),
        "dropped_ids_sha": lines_digest(sorted(str(r["id"]) for r in ok if r["id"] not in kept_ids)),
        "input_ids_sha": lines_digest(sorted(str(r["id"]) for r in all_rows)),
    }
    with open(f"{root}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest


VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


def write_corpus(seed, root, n_docs):
    """A ``documents`` parquet table under ``root`` (doc_id < 10000, as the
    curation gates' variant ids assume)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    assert n_docs < 10000
    rng = random.Random(seed * 7919 + 1)
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:
            base = rng.choice(texts)
            t = base + " dup" if rng.random() < 0.6 else base[: max(10, len(base) - rng.randint(1, 8))]
        else:
            t = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(t)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(docs, f"{root}/documents.parquet")
    return {"documents": n_docs}
