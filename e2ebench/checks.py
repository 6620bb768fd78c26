"""Independent output checks. Every expectation is computed from the
generated inputs with DuckDB or plain Python, never from a saved copy of
earlier output. `check(workload, ...)` returns (ok, info): info carries
"errors", "passed", and for some workloads per-layer figures (recall) and
the stream's latency samples, which come from the checkpoints.
"""
import csv
import datetime as dt
import glob
import json
import math
import os

import duckdb


class Checker:
    def __init__(self):
        self.errors, self.passed = [], []

    def eq(self, name, got, want):
        if got == want:
            self.passed.append(name)
        else:
            self.errors.append(f"{name}: got {got!r}, want {want!r}")

    def true(self, name, cond, detail=""):
        if cond:
            self.passed.append(name)
        else:
            self.errors.append(f"{name}: {detail}")


def check(workload, work, res, params):
    c = Checker()
    info = {}
    try:
        {"medallion_batch": check_medallion, "stream_inbox": check_stream,
         "query_mix": check_queries}[workload](c, work, res, params, info)
    except Exception as e:  # a crash in a check is a failed check
        c.errors.append(f"check raised {type(e).__name__}: {e}")
    info["errors"], info["passed"] = c.errors, c.passed
    return not c.errors, info


# ---------------------------------------------------------------- medallion

def check_medallion(c, work, res, params, info):
    s = res["summary"]
    out = s["out"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM '{work}/input/events.parquet'")
    n = con.execute("SELECT count(*) FROM raw").fetchone()[0]
    c.eq("exit_code", s["exit_code"], 0)
    c.eq("stages", [x["name"] for x in s["stages"]], ["bronze", "silver", "dq", "gold"])

    bronze = f"read_parquet('{out}/bronze/*/*.parquet', hive_partitioning = true)"
    c.eq("bronze_rows", con.execute(f"SELECT count(*) FROM {bronze}").fetchone()[0], n)
    dates = sorted(os.path.basename(p).split("=", 1)[1]
                   for p in glob.glob(f"{out}/bronze/event_date=*"))
    want_dates = [str(r[0]) for r in con.execute(
        "SELECT DISTINCT CAST(ts AS DATE) d FROM raw ORDER BY d").fetchall()]
    c.eq("bronze_date_partitions", dates, want_dates)

    silver = f"read_parquet('{out}/silver/*.parquet')"
    c.eq("silver_rows", con.execute(f"SELECT count(*) FROM {silver}").fetchone()[0], n)
    c.eq("silver_trimmed", con.execute(
        f"SELECT count(*) FROM {silver} WHERE event_type <> trim(event_type) "
        f"OR props <> trim(props)").fetchone()[0], 0)
    c.eq("silver_types",
         con.execute(f"SELECT event_type, count(*) FROM {silver} GROUP BY 1 ORDER BY 1").fetchall(),
         con.execute("SELECT trim(Event_Type), count(*) FROM raw GROUP BY 1 ORDER BY 1").fetchall())

    want_v = dict(zip(
        ["negative_or_null_value", "null_user", "outlier_value", "error_events"],
        con.execute("""SELECT count(*) FILTER (WHERE Value < 0 OR Value IS NULL),
                              count(*) FILTER (WHERE User_Id IS NULL),
                              count(*) FILTER (WHERE Value > 400),
                              count(*) FILTER (WHERE trim(Event_Type) = 'error')
                       FROM raw""").fetchone()))
    dq = s["dq"] or {}
    c.eq("dq_total", dq.get("total"), n)
    c.eq("dq_violations", dq.get("violations"), want_v)
    th = params["thresholds"]
    want_status = "PASSED" if all(want_v[k] <= th[k] for k in want_v) else "FAILED"
    c.eq("dq_verdict", dq.get("status"), want_status)

    gold = con.execute(
        f"""SELECT CAST(event_date AS VARCHAR), event_type, n_events, n_users, total_value
            FROM read_parquet('{out}/silver_gold/*/*.parquet', hive_partitioning = true)
            ORDER BY 1, 2""").fetchall()
    want = con.execute(
        """SELECT CAST(CAST(ts AS DATE) AS VARCHAR), trim(Event_Type), count(*),
                  count(DISTINCT User_Id), sum(CAST(Value AS DECIMAL(18, 2)))
           FROM raw GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    c.eq("gold_keys_counts_users", [g[:4] for g in gold], [w[:4] for w in want])
    bad = [(g[:2], g[4], float(w[4])) for g, w in zip(gold, want)
           if abs(g[4] - float(w[4])) > 0.005]
    c.true("gold_sums", len(gold) == len(want) and not bad, f"{len(bad)} sums differ: {bad[:3]}")


# ------------------------------------------------------------------- stream

def _log_entries(d):
    """JSON entries of a streaming metadata log dir (plain and .compact)."""
    out = []
    for p in glob.glob(os.path.join(d, "*")):
        base = os.path.basename(p)
        if base.startswith(".") or not base.split(".")[0].isdigit():
            continue
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        out += [json.loads(x) for x in lines if x.strip()]
    return out


def _file_batches(ckpt):
    """file name -> batch id, from the file source's log."""
    return {os.path.basename(e["path"]): e["batchId"]
            for e in _log_entries(os.path.join(ckpt, "sources", "0"))}


def _commit_ms(ckpt):
    """batch id -> commit time (epoch ms) from the commit log's mtimes."""
    d = os.path.join(ckpt, "commits")
    return {int(b): os.stat(os.path.join(d, b)).st_mtime_ns / 1e6
            for b in os.listdir(d) if b.isdigit()}


def _last_watermark_ms(ckpt):
    last = max(_commit_ms(ckpt))
    with open(os.path.join(ckpt, "offsets", str(last))) as f:
        return json.loads(f.read().splitlines()[1])["batchWatermarkMs"]


def check_stream(c, work, res, params, info):
    s = res["summary"]
    out = s["out"]
    t0 = dt.datetime(2024, 2, 1)
    slice_s = 600
    good, n_corrupt, n_late = [], 0, 0
    faults = []  # (file, window) of each line malformed only in event_id
    for f in s["files"]:
        i = int(f["file"][2:8])
        ooo_floor = t0 + dt.timedelta(seconds=i * slice_s - 300)
        with open(os.path.join(s["inbox"], f["file"])) as fh:
            rd = csv.reader(fh)
            next(rd)
            for r in rd:
                try:
                    ts = dt.datetime.strptime(r[1], "%Y-%m-%d %H:%M:%S.%f")
                    uid = int(r[2]) if r[2] else None
                    val = float(r[4]) if r[4] else None
                except ValueError:
                    n_corrupt += 1
                    continue
                try:
                    eid = int(r[0])
                except ValueError:
                    faults.append((f, (ts.replace(minute=0, second=0, microsecond=0), r[3])))
                    continue
                if ts < ooo_floor:
                    n_late += 1  # a day behind its file: its window is closed
                    continue
                good.append((eid, ts, uid, r[3], val))
    con = duckdb.connect()
    q = con.execute(f"SELECT count(*) FROM read_parquet('{out}/quarantine/*.parquet')").fetchone()[0]
    c.eq("quarantine_rows", q, n_corrupt + len(faults))
    c.eq("corrupt_injected", s["corrupt_injected"], n_corrupt)
    c.eq("late_injected", s["late_injected"], n_late)
    c.eq("faults_injected", s["faults_injected"], len(faults))

    # windows closed by the final watermark: exact counts and sums
    wm = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=_last_watermark_ms(f"{out}/ckpt_counts"))
    want = {}
    for _, ts, _, typ, val in good:
        b = ts.replace(minute=0, second=0, microsecond=0)
        n, sv = want.get((b, typ), (0, 0.0))
        want[(b, typ)] = (n + 1, sv + (val or 0.0))
    got = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(
        f"SELECT bucket, event_type, n, sum_value FROM read_parquet('{out}/counts/*.parquet')").fetchall()}
    n_rows = con.execute(f"SELECT count(*) FROM read_parquet('{out}/counts/*.parquet')").fetchone()[0]
    c.eq("window_rows_unique", n_rows, len(got))
    hour = dt.timedelta(hours=1)
    closed = {k for k in want if k[0] + hour < wm}
    c.true("windows_closed_emitted", closed <= set(got),
           f"{len(closed - set(got))} closed windows missing")
    c.true("windows_open_not_emitted", all(k[0] + hour <= wm for k in got),
           "a window past the watermark was emitted")
    c.true("windows_no_late_rows", set(got) <= set(want), "emitted window with no on-time rows")
    # A fault line that leaks into the counts adds exactly one row and 1.00
    # to its window. Each leaked fault line in a timed file is one failed
    # operation; any other difference fails the check.
    fault_in = {}
    for _, k in faults:
        fault_in[k] = fault_in.get(k, 0) + 1
    leaked = 0
    bad = []
    for k in got:
        if k not in want:
            continue
        dn = got[k][0] - want[k][0]
        if dn == 0 and math.isclose(got[k][1] or 0.0, want[k][1], abs_tol=1e-6):
            continue
        if 0 < dn <= fault_in.get(k, 0) and math.isclose(got[k][1], want[k][1] + dn, abs_tol=1e-6):
            leaked += dn
            continue
        bad.append(k)
    c.true("window_counts", not bad, f"{len(bad)} windows differ, e.g. "
           f"{[(k, got[k], want[k]) for k in bad[:2]]}")
    c.true("windows_some_closed", len(closed) > 0, "no window closed")
    c.true("fault_windows_closed", all(k[0] + hour < wm for _, k in faults),
           "a fault line's window is still open")
    c.true("fault_leaks_all_or_none", leaked in (0, len(faults)),
           f"{leaked} of {len(faults)} fault lines leaked")
    info["failed"] = sum(1 for f, _ in faults if f["phase"] != "warmup") if leaked else 0

    # one DQ artifact per batch of the DQ query; their totals = clean rows
    dq_batches = _commit_ms(f"{out}/ckpt_dq")
    arts = glob.glob(f"{out}/dq/batch_*/*.json")
    c.eq("dq_artifact_dirs", sorted(int(os.path.basename(os.path.dirname(a))[6:]) for a in arts),
         sorted(dq_batches))
    total = sum(json.load(open(a))["total_rows"] for a in arts)
    c.eq("dq_total_rows", total, len(good) + n_late)

    # latency of each paced file: due -> both queries committed its batch
    lat = []
    per_q = [(_file_batches(f"{out}/{k}"), _commit_ms(f"{out}/{k}")) for k in ("ckpt_counts", "ckpt_dq")]
    for f in s["files"]:
        if f["phase"] != "paced":
            continue
        done = [cm.get(fb.get(f["file"], -1)) for fb, cm in per_q]
        if None in done:
            c.errors.append(f"latency: {f['file']} has no committed batch")
            return
        lat.append(max(done) - f["due_ms"])
    c.true("latency_samples", len(lat) >= 16, f"{len(lat)} samples")
    info["latency_samples_ms"] = lat


# ------------------------------------------------------------------ queries

def _normalize(df):
    import pandas as pd
    df = df[sorted(df.columns)].reset_index(drop=True)
    for col in df.columns:
        s = df[col]
        if str(s.dtype).startswith("datetime64"):
            df[col] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s):
            head = s.dropna().iloc[0] if s.notna().any() else None
            if hasattr(head, "isoformat"):
                df[col] = pd.to_datetime(s).astype("datetime64[us]")
            elif head is not None and hasattr(head, "__len__") and not isinstance(head, (str, bytes)):
                df[col] = s.map(lambda v: tuple(v) if v is not None else None)
    return df


def _spark(out, name):
    import pandas as pd
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _same(got, want):
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    for col in got.columns:
        a, b = got[col], want[col]
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{col}[{i}]: spark={a[i]!r} duckdb={b[i]!r}"
    return None


def check_queries(c, work, res, params, info):
    s = res["summary"]
    out, data = s["out"], s["data"]
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    for name, sql in sorted(oracles.items()):
        got = _spark(out, name)
        c.true(f"{name}_rows", len(got) > 0, "empty result")
        diff = _same(got, con.execute(sql).df())
        c.true(f"{name}_oracle", diff is None, diff)
    c.true("oracle_count", len(oracles) >= 2, f"only {len(oracles)} oracle twins")

    con.execute("CREATE VIEW e AS SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings")

    def exact_topk(anchors, k, score, survivors="TRUE"):
        rows = con.execute(f"""
            WITH a AS (SELECT vec_id aid, v av FROM e WHERE vec_id IN ({",".join(map(str, anchors))})),
            s AS (SELECT aid, e.vec_id, {score} sc FROM a JOIN e ON e.vec_id <> aid
                  WHERE {survivors}),
            r AS (SELECT aid, vec_id, row_number() OVER (PARTITION BY aid ORDER BY sc DESC, vec_id) rk FROM s)
            SELECT aid, vec_id FROM r WHERE rk <= {k}""").fetchall()
        return set(rows)

    cos = ("list_inner_product(av, v) / (sqrt(list_inner_product(av, av)) * "
           "sqrt(list_inner_product(v, v)))")
    recall = {}
    # tombstoned (vec_id % 7 = 0) index: never returned, recall over survivors
    g = _spark(out, "q161_ann_topk_stored_tombstoned")
    ids = set(g["vec_id"].astype(int)) | set(g["anchor_id"].astype(int))
    c.true("q161_no_tombstoned_id", all(i % 7 for i in ids), "a tombstoned id was returned")
    got = set(zip(g["anchor_id"].astype(int), g["vec_id"].astype(int)))
    want = exact_topk([i for i in range(16) if i % 7], 5, cos, "e.vec_id % 7 <> 0")
    recall["operators.recall_ann_tombstoned"] = len(got & want) / len(want)
    # floors held by the test suite (RetrievalSpec)
    for k, floor in (("operators.recall_ann_tombstoned", 0.5),):
        c.true(f"{k}>={floor}", recall[k] >= floor, f"{recall[k]:.3f}")
    info["layers"] = recall
