"""Output checks that run after the timed region (a failure fails the run).

hashed_emails: the hashed emails graft sent for the contact-info and
  enhanced-conversions branches equal Python hashlib.sha256 of the
  gmail-normalized source values (reference megalista semantics).
registry_oracle: every registry_mix result hashes equal to its DuckDB
  oracle (SparkEntry.oracleSql) on the same corpus, canonicalized as in
  tools/parity_check.py. Oracle digests are cached per seed.
"""
import glob
import hashlib
import json
import os
from collections import Counter
from datetime import datetime, timedelta, timezone

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize_email(e):
    lowered = e.lower()
    parts = lowered.split("@")
    if len(parts) < 2:              # malformed: assumed pre-hashed, unchanged
        return e
    if parts[1] in ("gmail.com", "googlemail.com"):
        parts[0] = parts[0].replace(".", "")
    return "@".join(parts)


def sha256_email(e):
    return hashlib.sha256(normalize_email(e).strip().lower().encode("utf-8")).hexdigest()


def _bodies(out_dir, key):
    d = os.path.join(out_dir, "".join(c if c.isalnum() or c in "._-" else "_" for c in key))
    for f in glob.glob(os.path.join(d, "*.jsonl")):
        for line in open(f, encoding="utf-8"):
            req = json.loads(line)
            yield req["kind"], json.loads(req["body"])


def _sent_hashes(branch, out_dir, key):
    got = []
    for kind, body in _bodies(out_dir, key):
        if branch == "cm_contact" and kind == "add_offline_user_data_job_operations":
            for op in body["operations"]:
                for ident in op.get("create", {}).get("user_identifiers", []):
                    got.append(ident.get("hashed_email"))
        elif branch == "dv_contact":
            lst = body.get("contactInfoList") or body.get("addedContactInfoList") or {}
            got += [c.get("hashedEmails") for c in lst.get("contactInfos", [])]
        elif branch == "ec_leads":
            for conv in body["conversions"]:
                got += [i.get("hashed_email") for i in conv["user_identifiers"]]
    return Counter(h for h in got if h is not None)


def hashed_emails(work):
    expected = json.load(open(os.path.join(work, "expected.json")))
    out_dir = os.path.join(work, "out")
    problems = []
    for key, e in expected.items():
        b = e["branch"]
        if b not in ("cm_contact", "dv_contact", "ec_leads"):
            continue
        src = pq.read_table(os.path.join(work, "src", f"{b}.parquet")).to_pylist()
        if e["log_rows_seeded"]:
            # rows whose key was logged inside the retention window are not sent
            log = pq.read_table(os.path.join(work, "uploaded_seed",
                                             os.path.basename(e["log_path"]))).to_pylist()
            cutoff = datetime.now(timezone.utc) - timedelta(days=15)
            fresh = {r["uuid"] for r in log if r["timestamp"] >= cutoff}
            src = [r for r in src if r["uuid"] not in fresh]
        want = Counter(sha256_email(r["email"]) for r in src if r["email"])
        got = _sent_hashes(b, out_dir, key)
        if got != want:
            missing, extra = want - got, got - want
            problems.append(f"{key}: {sum(got.values())} hashed emails sent, {sum(want.values())} "
                            f"expected; {sum(missing.values())} missing, {sum(extra.values())} unexpected "
                            f"(e.g. {list(extra)[:1]})")
    return problems


def _canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return f"{v:.6f}" if v == v else "NaN"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _digest(tbl):
    cols = tbl.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    h = hashlib.sha256()
    for ln in sorted("\x01".join(_canon(r[i]) for i in order) for r in rows):
        h.update(ln.encode())
        h.update(b"\n")
    return {"rows": len(rows), "cols": sorted(cols), "digest": h.hexdigest()}


def _oracle(corpus, sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    out = {}
    for name, q in sorted(sql.items()):
        try:
            out[name] = _digest(con.execute(q).fetch_arrow_table())
        except Exception as e:  # an oracle that cannot run is reported, not skipped
            out[name] = {"error": str(e)[:200]}
    con.close()
    return out


def registry_oracle(work, cache_dir, seed):
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    gen_src = open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_corpus.py"), "rb").read()
    corpus = os.path.join(work, "corpus")
    key = hashlib.sha256(json.dumps([sql, seed], sort_keys=True).encode() + gen_src
                         + open(os.path.join(corpus, "lineitem.parquet"), "rb").read()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"seed{seed}-{key}.json")
    if os.path.exists(path):
        oracle = json.load(open(path))
    else:
        oracle = _oracle(corpus, sql)
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump(oracle, f)
    problems = []
    for name, want in sorted(oracle.items()):
        if "error" in want:
            problems.append(f"{name}: oracle failed: {want['error']}")
            continue
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = _digest(pq.read_table(files[0]))
        if got != want:
            problems.append(f"{name}: result {got['rows']} rows {got['cols']} != oracle "
                            f"{want['rows']} rows {want['cols']} (or values differ)")
    return problems
