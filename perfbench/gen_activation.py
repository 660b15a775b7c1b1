"""Seeded inputs for the activation workloads.

Writes, under one output directory:
  src/<branch>.parquet         one source per destination branch, written as a
                               single parquet file with a single row group
  uploaded_seed/<log>.parquet  pre-seeded `_uploaded` histories (incremental
                               only), restored before every timed run
  config.json                  the graft JSON config naming those sources
  expected.json                per execution: rows the run must attempt,
                               requests it must send, control-table growth

Every count in expected.json follows from the generation rules below, not
from running graft: rows whose hashed PII would be entirely empty are
dropped by the hasher, rows whose key sits in the `_uploaded` log with a
timestamp inside the 15-day retention window are removed by the anti-join,
and the request count follows the branch's renderer (requests per batch,
extra iteration-1 requests, or one request per row).
"""
import json
import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = np.datetime64("2024-05-01T00:00:00", "s")

FIRST = ("ana bruno carla diego elena felipe gabriela hugo ines joao karen "
         "luis maria nuno olga pedro quinn rafael sofia tiago ursula victor "
         "wanda xavier yara zeca").split()
LAST = ("silva souza costa santos oliveira pereira lima carvalho ferreira "
        "rodrigues almeida nascimento gomes martins araujo melo barbosa "
        "ribeiro rocha dias").split()
DOMAINS = ["gmail.com", "googlemail.com", "example.com", "yahoo.com",
           "outlook.com", "mail.example.org"]
DOMAIN_P = [0.40, 0.05, 0.20, 0.15, 0.10, 0.10]
SPACES = [" ", "\t", " ", "  "]


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def emails(rng, n):
    """Realistic email PII: gmail dot-local parts, mixed case, padding
    whitespace, malformed values (no '@'), empty strings and nulls."""
    f = rng.integers(len(FIRST), size=n)
    la = rng.integers(len(LAST), size=n)
    num = rng.integers(0, 1000, size=n)
    sep = rng.integers(3, size=n)
    dom = rng.choice(len(DOMAINS), size=n, p=DOMAIN_P)
    kind = rng.random(n)
    pad = rng.integers(len(SPACES), size=n)
    out = []
    for i in range(n):
        local = FIRST[f[i]] + (".", "", "_")[sep[i]] + LAST[la[i]] + str(num[i])
        e = local + "@" + DOMAINS[dom[i]]
        k = kind[i]
        if k < 0.03:
            out.append(None)
            continue
        if k < 0.04:
            out.append("")
            continue
        if k < 0.07:
            e = e.replace("@", ".")               # malformed: passes through
        elif k < 0.17:
            e = e.upper() if k < 0.12 else e.title()
        elif k < 0.22:
            e = SPACES[pad[i]] + e + SPACES[(pad[i] + 1) % len(SPACES)]
        out.append(e)
    return out


def phones(rng, n, null_p=0.3):
    d = rng.integers(10**8, 10**9, size=n)
    kind = rng.random(n)
    return [None if kind[i] < null_p else
            ("+55 11 9" + str(d[i]) if kind[i] < 0.6 else "+1555" + str(d[i]))
            for i in range(n)]


def concat(*parts):
    """Element-wise string concatenation of arrays and scalars."""
    return pc.binary_join_element_wise(
        *[p if isinstance(p, str) else pa.array(p).cast(pa.string()) for p in parts], "")


def ids(prefix, seed, n):
    return concat(f"{prefix}{seed:x}-", np.arange(n))


def times(rng, n):
    return np.datetime_as_string(T0 + rng.integers(0, 30 * 86400, size=n), unit="us")


def amounts(rng, n):
    return np.round(rng.uniform(1, 500, size=n), 2)


def with_dups(rng, arr, frac=0.01):
    """Copy the key of a random earlier row into `frac` of the rows."""
    n = len(arr)
    take = np.arange(n)
    k = int(n * frac)
    if n > 1 and k:
        dst = rng.choice(np.arange(1, n), size=k, replace=False)
        take[dst] = rng.integers(0, n, size=k) % dst
    return pa.array(arr).take(pa.array(take))


# (name, destination type, metadata, batch size, key columns, requests rule)
# Requests rule: ("per_batch", k) = k requests per batch; ("per_batch_plus",
# k, extra) = k per batch plus `extra` on iteration 1; ("per_row",) = one
# request per row. Mirrors graft.sink.Renderers.
BRANCHES = [
    ("ssd", "ADS_SSD_UPLOAD", ["Conv", "ext"], 5000, None, ("per_batch", 3)),
    ("ssi", "ADS_SSI_UPLOAD", ["Conv", "ext", "true", "ck"], 5000, None, ("per_batch", 3)),
    ("cm_mobile", "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD", ["list_m", "ADD"], 5000,
     None, ("per_batch_plus", 2, 2)),
    ("cm_contact", "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", ["list_c", "ADD"], 5000,
     None, ("per_batch_plus", 2, 2)),
    ("cm_user", "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD", ["list_u", "ADD"], 5000,
     None, ("per_batch_plus", 2, 2)),
    ("oci", "ADS_OFFLINE_CONVERSION", ["Conv"], 2000, ["gclid", "time"], ("per_batch", 1)),
    ("oca_gclid", "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID", ["Conv", "", "RESTATEMENT"], 2000,
     ["gclid", "time"], ("per_batch", 1)),
    ("oca_order", "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID", ["Conv", "", "RESTATEMENT"], 2000,
     ["order_id", "time"], ("per_batch", 1)),
    ("calls", "ADS_OFFLINE_CONVERSION_CALLS", ["Conv"], 2000, None, ("per_batch", 1)),
    ("ec_leads", "ADS_ENHANCED_CONVERSION_LEADS", ["Conv"], 2000, ["uuid"], ("per_batch", 1)),
    ("ga_user_list", "GA_USER_LIST_UPLOAD", ["wp1", "view1", "import1", "list1", "cd1", "cd2"],
     5000000, None, ("per_batch", 2)),
    ("ga_data_import", "GA_DATA_IMPORT", ["wp1", "import1"], 1000000, None,
     ("per_batch_plus", 1, 1)),
    ("ga_mp", "GA_MEASUREMENT_PROTOCOL", ["UA-1", "1"], 20, ["uuid"], ("per_batch", 1)),
    ("ga4_mp", "GA_4_MEASUREMENT_PROTOCOL", ["secret", "true", "false", "false", "", "G-1"], 20,
     ["uuid"], ("per_row",)),
    ("cm360", "CM_OFFLINE_CONVERSION", ["fl_act", "fl_cfg"], 1000, ["uuid"], ("per_batch", 1)),
    ("dv_contact", "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", ["adv1", "list_dc"], 5000, None,
     ("per_batch", 1)),
    ("dv_device", "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD", ["adv1", "list_dd"], 5000, None,
     ("per_batch", 1)),
    ("appsflyer", "APPSFLYER_S2S_EVENTS", ["com.app"], 1000, ["uuid"], ("per_row",)),
]
BY_NAME = {b[0]: b for b in BRANCHES}
SALT = {b[0]: i for i, b in enumerate(BRANCHES)}
# The non-rate-limited transactional branches.
INCREMENTAL = ["oci", "oca_gclid", "oca_order", "ec_leads", "ga_mp", "ga4_mp", "cm360"]
# Branches whose hasher drops a row when every emitted PII field is empty.
PII_ONLY = {"cm_mobile": ["mobile_device_id"], "cm_contact": ["email", "phone"],
            "dv_contact": ["email", "phone"], "dv_device": ["mobile_device_id"]}


def source_columns(name, seed, n):
    """Column name -> list of values for branch `name` with `n` rows."""
    r = _rng(seed, SALT[name])
    if name in ("ssd", "ssi"):
        cols = {"email": emails(r, n), "phone": phones(r, n, 0.5),
                "time": times(r, n), "amount": amounts(r, n)}
        if name == "ssi":
            cols["currency_code"] = r.choice(["BRL", "USD", "EUR"], size=n)
            cols["custom_value"] = concat("cv", r.integers(0, 50, size=n))
        return cols
    if name in ("cm_mobile", "dv_device"):
        u = r.random(n)
        dev = pc.if_else(pa.array(u < 0.01), "", ids("dev-", seed, n))
        dev = pc.if_else(pa.array(u > 0.98), pa.scalar(None, pa.string()), dev)
        return {"mobile_device_id": with_dups(r, dev)}
    if name in ("cm_contact", "dv_contact"):
        return {"email": emails(r, n), "phone": phones(r, n)}
    if name == "cm_user":
        return {"user_id": with_dups(r, ids("crm-", seed, n))}
    if name in ("oci", "oca_gclid"):
        cols = {"gclid": with_dups(r, ids("gclid-", seed, n)), "time": times(r, n)}
        if name == "oca_gclid":
            cols["conversion_time"] = times(r, n)
        cols["amount"] = amounts(r, n)
        return cols
    if name == "oca_order":
        return {"order_id": with_dups(r, ids("ord-", seed, n)), "time": times(r, n),
                "amount": amounts(r, n)}
    if name == "calls":
        return {"caller_id": phones(r, n, 0.0), "call_time": times(r, n),
                "time": times(r, n), "amount": amounts(r, n)}
    if name == "ec_leads":
        return {"uuid": with_dups(r, ids("lead-", seed, n)), "time": times(r, n),
                "amount": amounts(r, n), "email": emails(r, n), "phone": phones(r, n)}
    if name == "ga_user_list":
        return {"user_id": ids("ga-user-", seed, n)}
    if name == "ga_data_import":
        return {"cd1": ids("sku-", seed, n), "cd2": r.choice(["gold", "silver", "bronze"], size=n)}
    if name == "ga_mp":
        return {"uuid": with_dups(r, ids("hit-", seed, n)),
                "client_id": concat("cid.", r.integers(10**6, 10**7, size=n)),
                "event_category": r.choice(["shop", "lead", "video"], size=n),
                "event_action": r.choice(["purchase", "signup", "play"], size=n)}
    if name == "ga4_mp":
        return {"uuid": with_dups(r, ids("ev-", seed, n)),
                "client_id": concat("cid.", r.integers(10**6, 10**7, size=n)),
                "name": r.choice(["purchase", "sign_up", "add_to_cart"], size=n)}
    if name == "cm360":
        return {"uuid": with_dups(r, ids("fl-", seed, n)), "gclid": ids("cmg-", seed, n)}
    if name == "appsflyer":
        return {"uuid": with_dups(r, ids("af-", seed, n)), "appsflyer_id": ids("afid-", seed, n),
                "event_eventName": r.choice(["af_purchase", "af_login"], size=n)}
    raise KeyError(name)


def write_table(path, cols):
    """One parquet file with ONE row group: graft reads it as one non-empty
    partition, so the batch count of a branch is ceil(rows / batch size)."""
    tbl = pa.table({k: pa.array(v).cast(pa.string()) for k, v in cols.items()})
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
    return tbl.num_rows


def expected_requests(rule, rows, batch):
    batches = math.ceil(rows / batch) if rows else 1
    if rule[0] == "per_row":
        return rows
    if rule[0] == "per_batch":
        return rule[1] * batches
    return rule[1] * batches + rule[2]


def write_log(path, keys, key_cols, ages_days, now_us):
    """A `_uploaded` control table as graft reads it: (timestamp, keys...)."""
    os.makedirs(path, exist_ok=True)
    ts = now_us - (np.asarray(ages_days) * 86400e6).astype(np.int64)
    data = {"timestamp": pa.array(ts, type=pa.timestamp("us", tz="UTC"))}
    for k, v in zip(keys, key_cols):
        data[k] = pa.array(v, type=pa.string())
    pq.write_table(pa.table(data), os.path.join(path, "part-00000-seed.parquet"))


def config_json(out, names):
    src = [{"Name": f"s_{b}", "Type": "FILE", "Dataset": "parquet",
            "Table": os.path.join(out, "src", f"{b}.parquet")} for b in names]
    dst = [{"Name": f"d_{b}", "Type": BY_NAME[b][1], "Metadata": BY_NAME[b][2]} for b in names]
    con = [{"Enabled": True, "Source": f"s_{b}", "Destination": f"d_{b}"} for b in names]
    return {"GoogleAdsAccountId": "1234567890", "GoogleAnalyticsAccountId": "567890",
            "CampaignManagerProfileId": "999", "AppId": "app.id",
            "Sources": src, "Destinations": dst, "Connections": con}


def uploaded_log_name(branch):
    # graft's default PipelineOptions.uploadedLogPathFor
    return f"{branch}_uploaded_{BY_NAME[branch][1]}.parquet"


def generate(out, seed, names, rows, af_rows=0, logged=None):
    """Write sources, config and expected counts for branches `names`.

    rows: rows per branch (appsflyer gets `af_rows`).
    logged: None for empty control tables; else (fresh, stale) shares of the
      source keys pre-seeded into the `_uploaded` log with timestamps inside
      (fresh) or outside (stale) the 15-day retention window.
    """
    os.makedirs(os.path.join(out, "src"), exist_ok=True)
    now_us = int(time.time() * 1e6)
    expected = {}
    for b in names:
        _, dt, meta, batch, keys, rule = BY_NAME[b]
        n = af_rows if b == "appsflyer" else rows
        cols = source_columns(b, seed, n)
        write_table(os.path.join(out, "src", f"{b}.parquet"), cols)
        keep = np.ones(n, dtype=bool)
        if b in PII_ONLY:
            any_present = np.zeros(n, dtype=bool)
            for c in PII_ONLY[b]:
                v = pa.array(cols[c]).cast(pa.string())
                any_present |= pc.fill_null(pc.not_equal(v, ""), False).to_numpy(zero_copy_only=False)
            keep &= any_present
        log_rows = 0
        if logged is not None and keys:
            fresh_p, stale_p = logged
            r = _rng(seed, 1000 + SALT[b])
            joined = concat(*[x for k in keys for x in ("\x01", cols[k])])
            inverse = pc.index_in(joined, value_set=pc.unique(joined)).to_numpy()
            _, first = np.unique(inverse, return_index=True)
            u = r.random(len(first))
            fresh = u < fresh_p
            stale = (u >= fresh_p) & (u < fresh_p + stale_p)
            # history: older re-logs of fresh keys, and keys long gone from the source
            hist = np.flatnonzero(fresh)
            hist = r.choice(hist, size=len(hist) // 5, replace=False)
            rows_f, rows_s, rows_h = first[fresh], first[stale], first[hist]
            gone = first[: len(first) // 10]
            idx = np.concatenate([rows_f, rows_s, rows_h, gone])
            gone_mask = pa.array(np.arange(len(idx)) >= len(idx) - len(gone))
            key_cols = [pc.if_else(gone_mask, concat(t, "-gone"), t)
                        for t in (pa.array(cols[k]).take(pa.array(idx)) for k in keys)]
            ages = np.concatenate([
                r.uniform(0.05, 14.5, len(rows_f)), r.uniform(15.5, 20.0, len(rows_s)),
                r.uniform(15.5, 20.0, len(rows_h)), r.uniform(0.05, 20.0, len(gone))])
            write_log(os.path.join(out, "uploaded_seed", uploaded_log_name(b)),
                      keys, key_cols, ages, now_us)
            log_rows = len(idx)
            keep &= ~fresh[inverse]
        attempted = int(keep.sum())
        expected[f"s_{b} -> d_{b}"] = {
            "branch": b, "destination_type": dt, "source_rows": n,
            "attempted": attempted,
            "requests": expected_requests(rule, attempted, batch),
            "writeback": bool(keys),
            "log_path": os.path.join(out, "src", uploaded_log_name(b)) if keys else None,
            "log_rows_seeded": log_rows,
        }
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump(config_json(out, names), f)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
