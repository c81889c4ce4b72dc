"""Output checks for the perfbench workloads, run after the JVM exits.

Expectations are computed independently from the generated inputs with
DuckDB, never from the program's own output:

  engine-specs  every cycle: each threshold and deadman spec's alerts per
                tick (fired value, count, event ids) exactly; each sequence
                spec's in-flight docs after tick A and the sequences that
                complete in tick B exactly
  stream-drain  after the backfill and after every tick: threshold queries
                exactly (windows closed by the watermark); deadman and
                sequence queries by stated invariants (see `_stream`)
  catalog-hot   every query against its `SparkEntry.oracleSql`, compared
                like scripts/selfcheck.py does (columns by name, rows sorted,
                values stringified)

`run()` returns (mismatching operations, notes).
"""
import datetime as dt
import glob
import json
import math
import os

import duckdb
import numpy as np

LIMIT = 1000  # the engine's per-spec LIMIT (Runner)


def run(workload, inputs, run_dir, meta, res):
    if workload == "engine-specs":
        return _engine(inputs, meta, res)
    if workload == "stream-drain":
        return _stream(inputs, run_dir, meta, res)
    return _catalog(inputs, run_dir, res)


# ── engine ──────────────────────────────────────────────────────────────

def _sql(criteria):
    """Spec criteria (Presto dialect) as DuckDB SQL."""
    return criteria.replace("json_extract_scalar(", "json_extract_string(")


def _ts(iso):
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))


def _window(now):
    """SQL predicate for the 2-hour lookback at `now`: the current and the
    previous hour, hour-truncated."""
    h = _ts(now).replace(minute=0, second=0, microsecond=0)
    prev = h - dt.timedelta(hours=1)
    return (f"(date_trunc('hour', ts) = TIMESTAMPTZ '{h.isoformat()}' OR "
            f"date_trunc('hour', ts) = TIMESTAMPTZ '{prev.isoformat()}')")


def _groups(con, where, key, exclude=(), limit_check=None):
    """{value: (count, sorted ids)} of the events matching `where`, minus
    the ids in `exclude`, grouped by `key`."""
    rows = con.execute(
        f"SELECT eventid, CAST({key} AS VARCHAR) FROM lake WHERE {where}").fetchall()
    if limit_check is not None and len(rows) > LIMIT:
        limit_check.append(len(rows))
    out = {}
    for eid, v in rows:
        if eid in exclude or v is None:
            continue
        out.setdefault(v, []).append(eid)
    return {v: (len(ids), tuple(sorted(ids))) for v, ids in out.items()}


def _alert_key(doc):
    md = doc.get("metadata") or {}
    ids = tuple(sorted(e.get("eventid") for e in doc.get("events") or []))
    return (str(md.get("value")), int(md.get("count")), ids)


def _read_jsonl(path, start=0, end=None):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        lines = [ln for ln in f.read().split("\n") if ln]
    return [json.loads(ln) for ln in lines[start:end]]


def _engine(inputs, meta, res):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW lake AS SELECT * FROM read_parquet("
                f"'{inputs}/lake/**/*.parquet', hive_partitioning = false)")
    prior_ids = set()
    if meta.get("prior_alerts"):
        for d in _read_jsonl(os.path.join(inputs, meta["prior_alerts"])):
            prior_ids.update(e["eventid"] for e in d.get("events") or [])
    specs = meta["specs"]
    notes, over_limit = [], []
    win = {t: _window(meta[f"now_{t}"]) for t in ("a", "b")}

    # the specs' criteria are disjoint by construction (one spec's alerts
    # can never dedup another's events); verify that instead of assuming it
    crit = [_sql(s["criteria"]) for s in specs if s["alert_type"] != "sequence"]
    crit += [_sql(sl["criteria"]) for s in specs if s["alert_type"] == "sequence"
             for sl in s["slots"][:1]]
    overlap = con.execute("SELECT count(*) FROM lake WHERE " + " + ".join(
        f"CAST(coalesce({c}, false) AS INT)" for c in crit) + " > 1").fetchone()[0]
    if overlap:
        notes.append(f"{overlap} events match more than one spec: expectations invalid")

    # expectations, the same for every cycle
    want = {}
    for s in specs:
        name, kind = s["alert_name"], s["alert_type"]
        c = _sql(s.get("criteria", ""))
        if kind == "threshold":
            th = s.get("threshold", 1)
            ga = _groups(con, f"{win['a']} AND ({c})", s["aggregation_key"], prior_ids, over_limit)
            fired_a = {v: g for v, g in ga.items() if g[0] >= th}
            alerted = prior_ids | {i for g in fired_a.values() for i in g[1]}
            gb = _groups(con, f"{win['b']} AND ({c})", s["aggregation_key"], alerted, over_limit)
            want[name] = ({(v, *g) for v, g in fired_a.items()},
                          {(v, *g) for v, g in gb.items() if g[0] >= th})
        elif kind == "deadman":
            th = s.get("threshold", 0)
            per = []
            for t in ("a", "b"):
                g = _groups(con, f"{win[t]} AND ({c})", s["aggregation_key"], (), over_limit)
                if not g:
                    per.append({(s["aggregation_key"], 0, ())} if th >= 0 else set())
                else:
                    per.append({(v, *x) for v, x in g.items() if x[0] <= th})
            want[name] = tuple(per)
        else:
            s0, s1 = s["slots"]
            g0 = _groups(con, f"{win['a']} AND ({_sql(s0['criteria'])})",
                         s0["aggregation_key"], prior_ids, over_limit)
            opened = {(v, *g) for v, g in g0.items() if g[0] >= s0.get("threshold", 1)}
            done = set()
            for slot0 in opened:
                c1 = _sql(s1["criteria"].replace("{{slots.0.metadata.value}}", slot0[0]))
                g1 = _groups(con, f"{win['b']} AND ({c1})", s1["aggregation_key"],
                             prior_ids, over_limit)
                fired = {(v, *g) for v, g in g1.items() if g[0] >= s1.get("threshold", 1)}
                done |= {(slot0, f) for f in fired}
            want[name] = (opened, done)
    if over_limit:
        notes.append(f"{len(over_limit)} spec windows exceed the {LIMIT}-row LIMIT: "
                     "expectations invalid")

    if overlap or over_limit:
        # every operation's expectation is void: count them all
        return len(res["outputs"]["cycles"]) * 2 * len(specs), notes
    bad = 0
    for cyc in res["outputs"]["cycles"]:
        d = cyc["dir"]
        got_a = _read_jsonl(f"{d}/alerts.jsonl", cyc["lines_prior"], cyc["lines_a"])
        got_b = _read_jsonl(f"{d}/alerts.jsonl", cyc["lines_a"], cyc["lines_b"])
        infl_a = _read_jsonl(f"{d}/inflight_A.jsonl")
        for s in specs:
            name, kind = s["alert_name"], s["alert_type"]
            if kind in ("threshold", "deadman"):
                got = ({_alert_key(x) for x in got_a if x.get("alert_name") == name},
                       {_alert_key(x) for x in got_b if x.get("alert_name") == name})
            else:
                got = ({_alert_key(x["slots"][0]) for x in infl_a
                        if x.get("alert_name") == name},
                       {(_alert_key(x["slots"][0]), _alert_key(x["slots"][1]))
                        for x in got_b if x.get("alert_name") == name})
            for tick, g, w in zip("AB", got, want[name]):
                if g != w:
                    bad += 1
                    if len(notes) < 20:
                        notes.append(f"{os.path.basename(d)} tick {tick} {name}: "
                                     f"{len(g)} alerts, expected {len(w)}")
    return bad, notes


# ── streaming ───────────────────────────────────────────────────────────

def _ms(ts):
    return int(ts.timestamp() * 1000)


def _stream(inputs, run_dir, meta, res):
    """Threshold queries: exactly the (window, key) groups with count >=
    threshold whose window end the watermark (max event time seen minus
    the delay) has passed. Invariants for the rest:
      deadman   each alert's key had a matching event at `window_start`,
                none in (window_start, window_end], and window_end is
                below the watermark; every key whose silence closed before
                the previous snapshot's watermark has fired
      sequence  each alert's key had a slot-1 event at the completion time
                and at least the slot-0 threshold of slot-0 events since its
                previous completion; no (key, time) fires twice
      all       outputs only grow from one snapshot to the next
    """
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    specs = {s["alert_name"]: s for s in meta["specs"]}
    files = [os.path.join(inputs, "backlog", f) for f in meta["backlog"]]
    delay_us = meta["watermark_delay_ms"] * 1000
    window_us = meta["window_ms"] * 1000
    notes, bad = [], 0
    prev_wm = None
    prev_out = {}
    for snap in res["outputs"]["snapshots"]:
        if snap["file"]:
            files.append(os.path.join(inputs, "ticks", snap["file"]))
        flist = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet([{flist}])")
        max_us = con.execute("SELECT epoch_us(max(ts)) FROM ev").fetchone()[0]
        wm = max_us - delay_us
        for name, parts in snap["outputs"].items():
            s = specs[name]
            got = []
            if parts:
                plist = ", ".join(f"'{run_dir}/out/{name}/{p}'" for p in parts)
                got = con.execute(
                    "SELECT value, count, epoch_ms(window_start), epoch_ms(window_end) "
                    f"FROM read_parquet([{plist}])").fetchall()
            ok = set(prev_out.get(name, ())) <= set(parts) and len(set(got)) == len(got)
            if s["alert_type"] == "threshold":
                rows = con.execute(f"""
                    SELECT CAST({s['aggregation_key']} AS VARCHAR) AS v,
                           time_bucket(INTERVAL {meta['window_ms']} MILLISECOND, ts) AS w,
                           count(*) AS n
                    FROM ev WHERE coalesce({_sql(s['criteria'])}, false)
                      AND {s['aggregation_key']} IS NOT NULL
                    GROUP BY ALL HAVING count(*) >= {s['threshold']}""").fetchall()
                want = {(v, n, _ms(w), _ms(w) + window_us // 1000) for v, w, n in rows
                        if _ms(w) * 1000 + window_us <= wm}
                ok = ok and set(got) == want
            elif s["alert_type"] == "deadman":
                life_ms = _interval_ms(s.get("lifespan", "1 hour"))
                ev = {}
                for v, t in con.execute(
                        f"SELECT CAST({s['aggregation_key']} AS VARCHAR), epoch_ms(ts) FROM ev "
                        f"WHERE coalesce({_sql(s['criteria'])}, false) "
                        f"AND {s['aggregation_key']} IS NOT NULL").fetchall():
                    ev.setdefault(v, []).append(t)
                for v, _, start, end in got:
                    ts = ev.get(v, [])
                    ok = ok and start in ts and end == start + life_ms \
                        and not any(start < t <= end for t in ts) and end * 1000 < wm
                if prev_wm is not None:
                    fired = {(v, start) for v, _, start, _ in got}
                    for v, ts in ev.items():
                        last = max(ts)
                        if (last + life_ms) * 1000 < prev_wm:
                            ok = ok and (v, last) in fired
            else:
                s0, s1 = s["slots"]
                key = s["aggregation_key"]

                def times(c):
                    out = {}
                    for v, t in con.execute(
                            f"SELECT CAST({key} AS VARCHAR), epoch_ms(ts) FROM ev "
                            f"WHERE coalesce({_sql(c)}, false)").fetchall():
                        out.setdefault(v, []).append(t)
                    return out
                opens, closes = times(s0["criteria"]), times(s1["criteria"])
                last = {}
                for v, n, t, _ in sorted(got, key=lambda r: r[2]):
                    k0 = sum(1 for x in opens.get(v, []) if last.get(v, -1) < x <= t)
                    ok = ok and n == 2 and t in closes.get(v, []) \
                        and k0 >= s0.get("threshold", 1)
                    last[v] = t
            if not ok:
                bad += 1
                if len(notes) < 20:
                    notes.append(f"{snap['label']} {name}: output breaks its check")
        prev_wm = wm
        prev_out = snap["outputs"]
    return bad, notes


def _interval_ms(text):
    n, unit = text.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit.rstrip("s")]
    return int(n) * mult * 1000


# ── catalog ─────────────────────────────────────────────────────────────

def _canon(rows, cols):
    """Columns sorted by name, rows sorted, values stringified (the
    scripts/selfcheck.py canon: pandas-typed cells, repr for floats)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, (list, np.ndarray)):
            raise TypeError("array cell in result")
        if isinstance(v, np.generic):
            v = v.item()
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    return sorted(cols), sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _catalog(inputs, run_dir, res):
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(f"{inputs}/*.parquet"):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    notes, bad = [], 0
    oracle = res["outputs"]["oracle"]
    for q in res["outputs"]["queries"]:
        files = sorted(glob.glob(f"{run_dir}/catalog/{q}/*.parquet"))
        if not files:
            continue  # the query threw: the harness counted it already
        try:
            gdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            got = _canon([tuple(r) for r in gdf.itertuples(index=False, name=None)],
                         list(gdf.columns))
            wdf = con.execute(oracle[q]).df()
            want = _canon([tuple(r) for r in wdf.itertuples(index=False, name=None)],
                          list(wdf.columns))
            ok = got == want
        except Exception as e:  # a query with no result or a failing oracle
            ok = False
            notes.append(f"{q}: {type(e).__name__}: {e}"[:300])
        if not ok:
            bad += 1
            if len(notes) < 20:
                notes.append(f"{q}: result differs from its oracle")
    return bad, notes
