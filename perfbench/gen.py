"""Deterministic input generator for the perfbench workloads.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes only files; the benchmark harness hands the program nothing
else. The same (workload, seed) always yields byte-identical inputs.

  engine-specs   year/month/day/hour lake (12 hours), 3 YAML specs
                 (threshold, deadman, sequence) and a seeded alerts.jsonl
  stream-drain   4 backlog files, tick files, 3 streaming specs
  catalog-hot    small TPC-H-ish tables (events, orders, lineitem, customer,
                 documents) for the catalog sample; the seed does not change
                 them (fixed generator seed)

Every workload directory also gets `meta.json` with the engine clock
(`now_a`/`now_b`) and what the checks need to know about the specs.
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

UTC = dt.timezone.utc
# tick A at hh:50 and tick B 15 minutes later, in the next hour, so the
# two hour-truncated 2-hour windows overlap by one hour
NOW_A = dt.datetime(2024, 3, 14, 10, 50, tzinfo=UTC)
NOW_B = NOW_A + dt.timedelta(minutes=15)

# Sizes are set so that one run (a fresh JVM's set-up, the cold unit and
# a few warm units) stays near half a minute on a 4-core box.
ENGINE = dict(users=500, hosts=20, sources=8, thresholds=1, deadmen=1,
              sequences=1, seq_hosts=1, seq_closed=1, hours=12,
              hour_events=10_000, cold_hour_events=2_000, prior_alerts=20_000)
STREAM = dict(users=300, hosts=12, sources=6, backlog_files=4,
              backlog_file_events=2_500, tick_files=12,
              tick_file_events=2_500, thresholds=1, deadmen=1,
              sequences=1, slice_minutes=15)


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def micros(t):
    return int(t.timestamp() * 1_000_000)


def names(prefix, n, width=2):
    return [f"{prefix}{i:0{width}d}" for i in range(n)]


def json_props(action, status, nbytes, host):
    """props as a JSON string column, built column-wise (no Python loop)."""
    return pc.binary_join_element_wise(
        pa.scalar('{"action":"'), action, pa.scalar('","status":"'), status,
        pa.scalar('","host":"'), host, pa.scalar('","bytes":'),
        pc.cast(nbytes, pa.string()), pa.scalar("}"), "")


def events_table(rng, start_us, end_us, n, users, hosts, sources, actions,
                 action_p, id_prefix):
    """n events uniform over [start_us, end_us), sorted by ts."""
    ts = np.sort(rng.integers(start_us, end_us, size=n, dtype=np.int64))
    user = pa.array(np.array(users, dtype=object)[rng.integers(0, len(users), n)])
    host_idx = rng.integers(0, len(hosts), n)
    host = pa.array(np.array(hosts, dtype=object)[host_idx])
    source = pa.array(np.array(sources, dtype=object)[rng.integers(0, len(sources), n)])
    action = pa.array(np.array(actions, dtype=object)[rng.choice(len(actions), n, p=action_p)])
    status = pa.array(np.where(rng.random(n) < 0.8, "ok", "fail").astype(object))
    nbytes = pa.array(rng.integers(0, 100_000, n))
    ids = pc.binary_join_element_wise(
        pa.scalar(id_prefix), pc.cast(pa.array(np.arange(n)), pa.string()), "")
    return pa.table({
        "eventid": ids,
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "username": user, "host": host, "source": source,
        "props": json_props(action, status, nbytes, host),
    })


def write_yaml(path, doc):
    """Tiny YAML emitter: every spec is a flat map plus a `slots` list of
    flat maps; strings are single-quoted (YAML escapes ' as '')."""
    def scalar(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"
    lines = []
    for k, v in doc.items():
        if k == "slots":
            lines.append("slots:")
            for slot in v:
                first = True
                for sk, sv in slot.items():
                    lines.append(("  - " if first else "    ") + f"{sk}: {scalar(sv)}")
                    first = False
        elif k == "tags":
            lines.append("tags: [" + ", ".join(scalar(t) for t in v) + "]")
        else:
            lines.append(f"{k}: {scalar(v)}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def json_eq(field, value):
    return f"json_extract_scalar(props, '$.{field}') = '{value}'"


# ── engine workloads ────────────────────────────────────────────────────

def gen_engine(seed, out):
    p = ENGINE
    rng = np.random.default_rng([seed, 1])
    users, hosts = names("u", p["users"], 3), names("h", p["hosts"])
    sources = names("src", p["sources"], 1)
    th_actions = names("t", p["thresholds"])
    actions = th_actions + ["hb", "noise"]
    # each threshold action ~3% of traffic, heartbeats 8%, the rest is
    # noise no spec matches
    w = np.array([0.03] * len(th_actions) + [0.08, 0.8])
    end = NOW_B.replace(minute=0) + dt.timedelta(hours=1)
    # hours 09-11 hold both ticks' windows; the older hours are pruned
    hot = {NOW_A.replace(minute=0) + dt.timedelta(hours=h) for h in (-1, 0, 1)}
    hour = 3600 * 10**6
    tables = {}
    for h in range(p["hours"]):
        hs = end - dt.timedelta(hours=p["hours"] - h)
        n = p["hour_events"] if hs in hot else p["cold_hour_events"]
        tables[hs] = events_table(rng, micros(hs), micros(hs) + hour, n, users, hosts,
                                  sources, actions, w / w.sum(), f"e{seed}-{h:02d}-")
    # prior alerts: a history the store opens and dedups against; a tenth
    # of their event ids are window events, so dedup removes real rows
    def ids(hours):
        return np.concatenate([tables[hs].column("eventid").to_numpy(zero_copy_only=False)
                               for hs in sorted(hours)])
    n_hot = p["prior_alerts"] // 10
    prior = np.concatenate([
        rng.choice(ids(hot), size=n_hot, replace=False),
        rng.choice(ids(set(tables) - hot), size=p["prior_alerts"] - n_hot, replace=False)])
    # sequence traffic is placed, not sampled, so every seed opens and
    # closes the same number of sequences: `seq_hosts` hosts pass the
    # slot-0 threshold in tick A's window, `seq_closed` of them see a
    # slot-1 event in tick B's window (hour 11)
    win_a = micros(NOW_A.replace(minute=0) - dt.timedelta(hours=1))
    placed = []
    for s in range(p["sequences"]):
        for j, h in enumerate(hosts):
            k = 12 if j < p["seq_hosts"] else 2
            placed += [(f"q{s}a", h, int(t)) for t in rng.integers(win_a, win_a + 2 * hour, k)]
            if j < p["seq_closed"]:
                placed += [(f"q{s}b", h, int(t)) for t in
                           rng.integers(win_a + 2 * hour, win_a + 2 * hour + 5 * 60 * 10**6, 2)]
    m = len(placed)
    ts = np.array([t for _, _, t in placed], dtype=np.int64)
    host = pa.array([h for _, h, _ in placed])
    seq = pa.table({
        "eventid": [f"e{seed}-s{k}" for k in range(m)],
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "username": pa.array(np.array(users, dtype=object)[rng.integers(0, len(users), m)]),
        "host": host,
        "source": pa.array(np.array(sources, dtype=object)[rng.integers(0, len(sources), m)]),
        "props": json_props(pa.array([a for a, _, _ in placed]), pa.array(["ok"] * m),
                            pa.array(rng.integers(0, 100_000, m)), host)})
    for hs in hot:
        in_hour = (ts >= micros(hs)) & (ts < micros(hs) + hour)
        tables[hs] = pa.concat_tables([tables[hs], seq.filter(pa.array(in_hour))])
    for hs, t in tables.items():
        part = f"{out}/lake/year={hs:%Y}/month={hs:%m}/day={hs:%d}/hour={hs:%H}"
        os.makedirs(part, exist_ok=True)
        pq.write_table(t, f"{part}/part-0.parquet")

    os.makedirs(f"{out}/specs", exist_ok=True)
    specs = []
    for i, a in enumerate(th_actions):
        specs.append({
            "alert_name": f"th{i:02d}", "alert_type": "threshold",
            "criteria": f"{json_eq('action', a)} AND source <> '{sources[i]}'",
            "aggregation_key": "username", "threshold": 2 + i % 2,
            "severity": "WARNING", "category": "bench",
            "tags": ["bench", f"t{i % 4}"],
            "summary": "{{alert_name}}: {{metadata.value}} x{{metadata.count}}",
            "event_snippet": "{{host}}/{{source}}", "event_sample_count": 2})
    for d in range(p["deadmen"]):
        group = [h for j, h in enumerate(hosts) if j % p["deadmen"] == d]
        in_list = ", ".join(f"'{h}'" for h in group)
        specs.append({
            "alert_name": f"dm{d}", "alert_type": "deadman",
            "criteria": f"{json_eq('action', 'hb')} AND host IN ({in_list}) "
                        f"AND {json_eq('status', 'fail')}",
            "aggregation_key": "host", "threshold": 10, "severity": "CRITICAL",
            "summary": "{{alert_name}} quiet {{metadata.value}}"})
    for s in range(p["sequences"]):
        specs.append({
            "alert_name": f"seq{s}", "alert_type": "sequence",
            "lifespan": "3 days",
            "summary": "{{alert_name}} {{slots.0.metadata.value}}",
            "slots": [
                {"alert_name": f"seq{s}_open", "alert_type": "threshold",
                 "criteria": json_eq("action", f"q{s}a"),
                 "aggregation_key": "host", "threshold": 10,
                 "summary": "open {{metadata.value}}"},
                {"alert_name": f"seq{s}_close", "alert_type": "threshold",
                 "criteria": "host = '{{slots.0.metadata.value}}' AND " +
                             json_eq("action", f"q{s}b"),
                 "aggregation_key": "host", "threshold": 1,
                 "summary": "close {{metadata.value}}"}]})
    for doc in specs:
        write_yaml(f"{out}/specs/{doc['alert_name']}.yml", doc)

    os.makedirs(f"{out}/store", exist_ok=True)
    base_epoch = int((NOW_A - dt.timedelta(days=1)).timestamp())
    with open(f"{out}/store/alerts.jsonl", "w") as f:
        for k, eid in enumerate(prior):
            ts = base_epoch + k
            f.write(json.dumps({
                "alert_name": f"prior{k % 7}", "alert_type": "threshold",
                "severity": "WARNING", "summary": "prior",
                "events": [{"eventid": str(eid), "source": "prior"}],
                "_id": f"{k:024x}",
                "utctimestamp": iso(dt.datetime.fromtimestamp(ts, UTC)),
                "utcepoch": ts}, separators=(",", ":")) + "\n")
    return dict(workload="engine-specs", now_a=iso(NOW_A), now_b=iso(NOW_B),
                specs=specs, prior_alerts="store/alerts.jsonl")


# ── streaming workload ──────────────────────────────────────────────────

STREAM_T0 = dt.datetime(2024, 3, 14, 0, 0, tzinfo=UTC)


def gen_stream(seed, out):
    p = STREAM
    rng = np.random.default_rng([seed, 3])
    users, hosts = names("u", p["users"], 3), names("h", p["hosts"])
    sources = names("src", p["sources"], 1)
    actions = ["login", "read", "write", "fail", "hb", "open", "close", "noise"]
    w = np.array([0.15, 0.2, 0.15, 0.05, 0.1, 0.02, 0.02, 0.31])
    sl = dt.timedelta(minutes=p["slice_minutes"])
    os.makedirs(f"{out}/backlog", exist_ok=True)
    os.makedirs(f"{out}/ticks", exist_ok=True)
    files = [("backlog", i, p["backlog_file_events"]) for i in range(p["backlog_files"])]
    files += [("ticks", i, p["tick_file_events"]) for i in range(p["tick_files"])]
    # hosts h00/h01 stop sending heartbeats after the backlog, so the
    # deadman queries have silences to report
    silent = {hosts[0], hosts[1]}
    for k, (kind, i, n) in enumerate(files):
        s = STREAM_T0 + k * sl
        t = events_table(rng, micros(s), micros(s + sl), n, users, hosts,
                         sources, actions, w / w.sum(), f"st{seed}-{k:03d}-")
        if kind == "ticks":
            props = t.column("props").to_pylist()
            hs = t.column("host").to_pylist()
            keep = [not (h in silent and '"action":"hb"' in pr)
                    for h, pr in zip(hs, props)]
            t = t.filter(pa.array(keep))
        pq.write_table(t, f"{out}/{kind}/part-{k:03d}.parquet")
    os.makedirs(f"{out}/specs", exist_ok=True)
    specs = []
    for i in range(p["thresholds"]):
        a = actions[i % 4]
        specs.append({
            "alert_name": f"sth{i}", "alert_type": "threshold",
            "criteria": f"{json_eq('action', a)} AND source = '{sources[i]}'",
            "aggregation_key": "username" if i % 2 == 0 else "host",
            "threshold": 3 if i % 2 == 0 else 40})
    for d in range(p["deadmen"]):
        specs.append({
            "alert_name": f"sdm{d}", "alert_type": "deadman",
            "criteria": json_eq("action", "hb") + (f" AND source <> '{sources[d]}'"),
            "aggregation_key": "host", "lifespan": "20 minutes"})
    for s in range(p["sequences"]):
        specs.append({
            "alert_name": f"sseq{s}", "alert_type": "sequence",
            "lifespan": "1 hour",
            "aggregation_key": "host" if s == 0 else "username",
            "slots": [
                {"alert_name": f"sseq{s}_open", "alert_type": "threshold",
                 "criteria": json_eq("action", "open"), "threshold": 2 + s},
                {"alert_name": f"sseq{s}_close", "alert_type": "threshold",
                 "criteria": json_eq("action", "close"), "threshold": 1}]})
    for doc in specs:
        write_yaml(f"{out}/specs/{doc['alert_name']}.yml", doc)
    return dict(workload="stream-drain", specs=specs,
                backlog=sorted(os.listdir(f"{out}/backlog")),
                ticks=sorted(os.listdir(f"{out}/ticks")),
                watermark_delay_ms=10 * 60 * 1000, window_ms=15 * 60 * 1000)


# ── catalog workload ────────────────────────────────────────────────────

CATALOG_SEED = 20240314
CATALOG = dict(events=10_000, orders=15_000, lineitem=60_000, parts=2_000,
               customer=1_500, suppliers=100, documents=500)
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "stream order group filter vector").split()


def gen_catalog(_seed, out):
    """Seed-independent: the catalog queries' iteration counts depend on
    the data, so one fixed table set keeps every run comparable."""
    p = CATALOG
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    n = p["events"]
    t0 = micros(dt.datetime(2024, 1, 1, tzinfo=UTC))
    write("events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n)),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array(np.array(["click", "signup", "error", "view", "purchase"],
                                        dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    no = p["orders"]
    day = 86400 * 10**6
    d0 = micros(dt.datetime(1995, 1, 1, tzinfo=UTC))
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, p["customer"], no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(d0 + rng.integers(0, 2404, no) * day, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"], dtype=object)[rng.integers(0, 5, no)]),
    })
    nl = p["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p["parts"], nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, p["suppliers"], nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(d0 + rng.integers(1, 2500, nl) * day, type=pa.timestamp("us")),
    })
    nc = p["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(np.array(["BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE",
                                           "FURNITURE"], dtype=object)[rng.integers(0, 5, nc)]),
    })
    nd = p["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicates of an earlier document, so dedup and
            # similarity queries have something to find
            base = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(0, len(base)))
            base[k] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(20, 80)))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    write("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), nd)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return dict(workload="catalog-hot",
                tables=["events", "lineitem", "documents"])


GENERATORS = {
    "engine-specs": gen_engine,
    "stream-drain": gen_stream,
    "catalog-hot": gen_catalog,
}


def generate(workload, seed, out):
    meta = GENERATORS[workload](seed, out)
    meta["seed"] = seed
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py <{'|'.join(GENERATORS)}> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
