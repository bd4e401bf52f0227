"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``fleet(seed)``: the synthetic VCO fleet the ``intake`` workload
  extracts over JSON-RPC, in two generations.  Generation A is loaded
  into an empty schema; generation B perturbs a few percent of edges
  (state, one link, counters, a new QoE day) and appends new events.
  The generator also derives the expected gold rows itself, from the
  documents it serves, so the engine is checked against an independent
  account: per-table row counts, order-independent content hashes over
  the columns it can derive, and the exact keys a refresh must change.
* ``write_tables(seed, out_dir, sizes)``: the star-schema tables the
  query workloads read (documents, embeddings, events, orders,
  lineitem), written as parquet with the shapes of the repository's
  test data.
"""

import datetime as dt
import hashlib
import json
import random

# 4 VCOs x 40 customers x 25 edges = 4,000 edge documents, ~67k gold
# rows per phase: the fleet size the transform was profiled at (4,000
# synthetic edges, ~81k gold rows). At this size the sink's JDBC time is
# about a tenth of each phase, so a sink change can show in the phase
# times; at a few hundred edges it was 1-3 %.
VCOS = ["vco0", "vco1", "vco2", "vco3"]
CUSTOMERS_PER_VCO = 40
EDGES_PER_CUSTOMER = 25
PERTURB_SHARE = 0.04
FAULT_PERCENT = 12
VCO_NAME = "fleet"
EVENT_SKIP = ["SKIPME"]
EVENT_TYPES = ["LINK_DEAD", "LINK_ALIVE", "EDGE_UP", "EDGE_DOWN",
               "HA_FAILOVER", "SKIPME"]
STATES = ["CONNECTED", "OFFLINE", "DEGRADED", "NEVER_ACTIVATED"]
PRIVATE_LAT = 37.402866
QOE_DAYS = ["2024-05-01", "2024-05-02"]
QOE_NEW_DAY = "2024-05-03"
LAST_CONTACT = "2024-06-01T10:00:00.500Z"

GOLD_TABLES = ["Customer", "Edge", "Links", "Events", "DailyQOE",
               "License", "EdgeAttributes", "CustomerAttributes"]

# Gold keys and the columns the generator derives independently; the
# harness hashes exactly these columns of each Derby table.
KEYS = {
    "Customer": ["CustomerID"],
    "Edge": ["EdgeID"],
    "Links": ["EdgeID", "LinkUUID"],
    "Events": ["EventID"],
    "DailyQOE": ["EdgeKey", "QoeDate"],
    "License": ["EdgeID"],
    "EdgeAttributes": ["uuid", "name"],
    "CustomerAttributes": ["uuid", "name"],
}
HASHED = {
    "Customer": ["CustomerID", "Customer_ID_VCO", "name"],
    "Edge": ["EdgeID", "Customer_ID_VCO", "name", "Edge_status", "Model",
             "Version", "HA", "Activated_Days", "Private_links_num",
             "Public_links_num", "BACKUP", "WIRELESS", "City"],
    "Links": ["LinkUUID", "EdgeID", "LinkName", "Linktype",
              "Networktype", "IP", "BackupState"],
    "Events": ["EventID", "EdgeID", "Event", "EventTime"],
    "DailyQOE": ["EdgeKey", "QoeDate", "n_brownouts", "n_blackouts"],
    "License": ["EdgeID", "LicenseMbps"],
    "EdgeAttributes": ["uuid", "name", "num", "text"],
    "CustomerAttributes": ["uuid", "name", "num"],
}


def canon(v):
    """Canonical text of one cell; the harness renders Derby values the
    same way (null, booleans, integral doubles, dates, epoch millis)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_hash(cells):
    h = hashlib.md5("\x1f".join(canon(c) for c in cells).encode("utf-8"))
    return int(h.hexdigest()[:16], 16)


def table_digest(rows):
    """Order-independent digest: the sum of per-row md5 prefixes."""
    return format(sum(row_hash(r) for r in rows) % (1 << 64), "016x")


def _iso_millis(iso):
    d = dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return int(d.timestamp() * 1000)


# --------------------------------------------------------------- fleet

def _edge_doc(rng, eid, logical, enterprise, vco_idx):
    n_links = rng.choice([0, 1, 2, 2, 3, 3, 4]) if eid % 11 else 0
    links = []
    for k in range(n_links):
        private = rng.random() < 0.3
        links.append({
            "internalId": "l-%d" % k,  # unique per edge only
            "displayName": "link %d of %d" % (k, eid),
            "lat": PRIVATE_LAT if private else round(rng.uniform(-60, 60), 4),
            "lon": round(rng.uniform(-120, 120), 4),
            "ipAddress": "10.%d.%d.%d" % (vco_idx, eid % 250, k + 1),
            # the first link always carries a flippable backup state
            "backupState": (rng.choice(["ACTIVE", "STANDBY"]) if k == 0
                            else rng.choice(["ACTIVE", "STANDBY",
                                             "UNCONFIGURED", None])),
            "networkType": rng.choice(["ETHERNET", "WIRELESS"]),
        })
    act_day = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(500))
    doc = {
        "id": eid,
        "logicalId": logical,
        "enterpriseId": enterprise,
        "name": "Edge %d" % eid,
        "edgeState": rng.choice(STATES),
        "activationState": rng.choice(["ACTIVATED", "ACTIVATED", "PENDING"]),
        "activationTime": act_day.isoformat() + "T08:30:15.123Z",
        "lastContact": LAST_CONTACT,
        "created": act_day.isoformat() + "T00:00:00.000Z",
        "buildNumber": rng.choice(["4.5.0", "5.0.1", "5.2.0", None]),
        "modelNumber": rng.choice(["edge510", "edge540", "edge840", None]),
        "serialNumber": "SN%08d" % eid,
        "haState": rng.choice(["UNCONFIGURED", "READY", "PENDING_INIT", None]),
        "softwareVersion": "5.2.0",
        "site": {"lat": 1.0, "lon": 2.0,
                 "city": rng.choice(["Palo Alto", "Austin", "Berlin", None]),
                 "country": "US", "postalCode": "94040",
                 "streetAddress": "%d Main St" % eid},
        "recentLinks": links if links else None,
        "licenses": [{"sku": "SKU-%d" % (eid % 7), "active": True,
                      "termMonths": 12, "edition": "STANDARD",
                      "bandwidthTier": "100M"}],
        "cloudServices": [],
    }
    return doc


def _stack(rng, logical):
    via_gw = rng.random() < 0.5
    return {"edgeId": logical, "stack": [
        {"name": "Edge Specific Profile", "schemaVersion": "3.0.0",
         "modules": [{"name": "controlPlane", "data": {"segments": [
             {"vpn": {"enabled": True, "edgeToEdge": True,
                      "edgeToEdgeDetail": {"useCloudGateway": via_gw}}}]}}]},
        {"name": "Basic Profile", "schemaVersion": "3.0.0", "modules": []}]}


def _metrics(rng, doc):
    out = []
    for link in doc["recentLinks"] or []:
        out.append({
            "edgeId": doc["logicalId"],
            "scoreTx": round(rng.uniform(1, 10), 2),
            "scoreRx": round(rng.uniform(1, 10), 2),
            # tx bandwidth always dominates rx, so a tx bump always
            # moves LicenseMbps
            "bpsOfBestPathTx": rng.randrange(100, 900) * 1000000
            + rng.randrange(0, 400000),
            "bpsOfBestPathRx": rng.randrange(10, 90) * 1000000,
            "bytesTx": rng.randrange(10 ** 6, 10 ** 10),
            "bytesRx": rng.randrange(10 ** 6, 10 ** 10),
            "link": {"edgeId": doc["id"], "internalId": link["internalId"],
                     "displayName": link["displayName"],
                     "interface": "GE%d" % (int(link["internalId"][2:]) + 1),
                     "lat": link["lat"], "lon": link["lon"],
                     "networkSide": "WAN", "networkType": link["networkType"],
                     "ipAddress": link["ipAddress"],
                     "backupState": link["backupState"]},
        })
    return out


def _qoe_day(rng, edge_key, day, tb0):
    states = []
    for _ in range(12):
        states.append(rng.choice([4, 4, 4, 2, 0, 3]))
    return [{"edge_key": edge_key, "ts": "%sT%02d:%02d:00.000Z" % (
        day, 6 + i // 4, (i % 4) * 15), "tb": tb0 + i, "state": s}
        for i, s in enumerate(states)]


def _events(rng, logical, next_id, n, day):
    out = []
    for _ in range(n):
        eid = next_id[0]
        next_id[0] += 1
        out.append({
            "event_id": None if eid % 97 == 13 else eid,
            "edgeId": logical,
            "event_type": rng.choice(EVENT_TYPES),
            "ts": "%sT%02d:%02d:%02d.000Z" % (
                day, rng.randrange(24), rng.randrange(60), rng.randrange(60)),
        })
    return out


def fleet(seed):
    """The two-generation fleet, the fault plan and the expectations."""
    rng = random.Random(seed)
    customers, edges = {}, {}
    stacks, metrics, events, qoe, configs = {}, {}, {}, {}, {}
    next_event = [1]
    edge_id = 1000
    cust_id = 1
    for vi, vco in enumerate(VCOS):
        cs, es, ss, ms, evs, qs = [], [], [], [], [], []
        hubs = []
        for j in range(CUSTOMERS_PER_VCO):
            logical = "c-%s-%d" % (vco, j)
            cs.append({"id": cust_id, "logicalId": logical,
                       "name": "Customer %d" % cust_id,
                       "created": "2022-01-01T00:00:00.000Z"})
            cust_id += 1
            for _ in range(EDGES_PER_CUSTOMER):
                edge_id += 1
                e_logical = None if edge_id % 53 == 7 else "e-%d" % edge_id
                doc = _edge_doc(rng, edge_id, e_logical, logical, vi)
                es.append(doc)
                if e_logical is None:
                    continue
                if rng.random() < 0.7:
                    ss.append(_stack(rng, e_logical))
                if rng.random() < 0.85:
                    ms.extend(_metrics(rng, doc))
                evs.extend(_events(rng, e_logical, next_event,
                                   rng.randrange(4, 14), "2024-05-0%d"
                                   % rng.randrange(1, 3)))
                for di, day in enumerate(QOE_DAYS):
                    qs.extend(_qoe_day(rng, edge_id, day, di * 100))
                if rng.random() < 0.05:
                    hubs.append(e_logical)
        # one customer without a logical id: dropped by the null-key guard
        cs.append({"id": cust_id, "logicalId": None,
                   "name": "Orphan %d" % cust_id,
                   "created": "2022-01-01T00:00:00.000Z"})
        cust_id += 1
        customers[vco], edges[vco], stacks[vco] = cs, es, ss
        metrics[vco], events[vco], qoe[vco] = ms, evs, qs
        configs[vco] = [{"id": 1, "modules": [
            {"name": "deviceSettings",
             "refs": {"deviceSettings:vpn:edgeHub": {"data": {"logicalId": h}}}}
            for h in hubs]}]

    all_customers = [c for v in VCOS for c in customers[v]]
    named = [c for c in all_customers if c["logicalId"]]
    moved = rng.choice(named)["logicalId"]

    # generation B: a seeded few percent of in-scope edges change
    # perturbed edges have links and metrics, so each one changes its
    # Edge, Links and License rows and nothing else
    with_metrics = {m["edgeId"] for v in VCOS for m in metrics[v]}
    in_scope = [d for v in VCOS for d in edges[v]
                if d["logicalId"] in with_metrics
                and d["enterpriseId"] != moved and d["recentLinks"]]
    n_pert = max(1, int(len(in_scope) * PERTURB_SHARE))
    perturbed = sorted(d["logicalId"]
                       for d in rng.sample(in_scope, n_pert))
    pert = set(perturbed)
    edges_b, metrics_b, events_b, qoe_b = {}, {}, {}, {}
    for vco in VCOS:
        eb = []
        new_q = []
        for d in edges[vco]:
            if d["logicalId"] in pert:
                d = json.loads(json.dumps(d))
                d["edgeState"] = STATES[(STATES.index(d["edgeState"]) + 1)
                                        % len(STATES)]
                l0 = d["recentLinks"][0]
                l0["backupState"] = ("STANDBY" if l0["backupState"] == "ACTIVE"
                                     else "ACTIVE")
                new_q.extend(_qoe_day(rng, d["id"], QOE_NEW_DAY, 200))
            eb.append(d)
        edges_b[vco] = eb
        mb = []
        for m in metrics[vco]:
            if m["edgeId"] in pert:
                m = dict(m)
                m["bpsOfBestPathTx"] += 7000000
                m["bytesTx"] += 123456
            mb.append(m)
        metrics_b[vco] = mb
        appended = []
        for d in eb:
            if d["logicalId"] and rng.random() < 0.06:
                appended.extend(_events(rng, d["logicalId"], next_event,
                                        rng.randrange(1, 4), "2024-05-03"))
        events_b[vco] = events[vco] + appended
        qoe_b[vco] = qoe[vco] + new_q

    def generation(es, ms, evs, qs):
        return {v: {
            "network/getNetworkEnterprises": customers[v],
            "enterprise/getEnterpriseEdges": es[v],
            "edge/getEdgeConfigurationStack": stacks[v],
            "metrics/getEdgeLinkMetrics": ms[v],
            "event/getEnterpriseEvents": evs[v],
            "linkQuality/getLinkQualityEvents": qs[v],
            "enterprise/getEnterpriseConfigurations": configs[v],
        } for v in VCOS}

    gen_a = generation(edges, metrics, events, qoe)
    gen_b = generation(edges_b, metrics_b, events_b, qoe_b)
    exp_a = expected_gold(gen_a, moved)
    exp_b = expected_gold(gen_b, moved)
    changed = {t: sorted(k for k in set(exp_b["rows"][t]) | set(exp_a["rows"][t])
                         if exp_a["rows"][t].get(k) != exp_b["rows"][t].get(k))
               for t in GOLD_TABLES}
    audit = {v: _audit_customer(customers[v], moved, rng) for v in VCOS}
    plan = {
        "seed": seed,
        "vcos": VCOS,
        "vco_name": VCO_NAME,
        "moved": moved,
        "event_skip": EVENT_SKIP,
        "fault_percent": FAULT_PERCENT,
        # every with-list carrying `licenses` fails on this VCO, so the
        # licenses-less fallback runs in every phase
        "no_license_vco": VCOS[rng.randrange(len(VCOS))],
        "audit": audit,
    }
    expect = {
        "keys": KEYS,
        "hashed": HASHED,
        "load": summary(exp_a),
        "refresh": summary(exp_b),
        # keys whose derivable row differs between A and B; the harness
        # compares them with the keys whose FULL Derby row changed
        "changed": changed,
        "perturbed_edges": perturbed,
        "audit_counts": {v: sum(1 for d in edges[v]
                                if d["enterpriseId"] == audit[v]["logicalId"]
                                and d["logicalId"])
                         for v in VCOS},
    }
    return plan, {"A": gen_a, "B": gen_b}, expect


def _audit_customer(cs, moved, rng):
    """The customer of one VCO whose edges the A20 spot check counts."""
    c = rng.choice([c for c in cs if c["logicalId"] and c["logicalId"] != moved])
    return {"id": c["id"], "logicalId": c["logicalId"]}


def summary(exp):
    return {t: {"rows": len(exp["rows"][t]),
                "digest": table_digest(exp["rows"][t].values())}
            for t in GOLD_TABLES}


def _run_lengths(states):
    """DailyQOE run-length counts: brownout = a 2-run after a 4, blackout
    = a 0-run after a 2, 3 or 4."""
    runs = []
    prev = None
    for s in states:
        if runs and runs[-1][0] == s:
            continue
        runs.append((s, prev))
        prev = s
    brown = sum(1 for s, p in runs if s == 2 and p == 4)
    black = sum(1 for s, p in runs if s == 0 and p in (2, 3, 4))
    return brown, black


def expected_gold(gen, moved):
    """Expected gold rows, keyed by gold key, over the HASHED columns."""
    rows = {t: {} for t in GOLD_TABLES}
    scoped_customers = set()
    for v in VCOS:
        for c in gen[v]["network/getNetworkEnterprises"]:
            if c["logicalId"] and c["logicalId"] != moved:
                scoped_customers.add(c["logicalId"])
                rows["Customer"][(c["logicalId"],)] = (
                    c["logicalId"], c["id"], c["name"])
    edge_ids = set()
    flags = {}
    for v in VCOS:
        for d in gen[v]["enterprise/getEnterpriseEdges"]:
            if not d["logicalId"] or d["enterpriseId"] not in scoped_customers:
                continue
            e = d["logicalId"]
            edge_ids.add(e)
            links = d["recentLinks"] or []
            private = [l for l in links if l["lat"] == PRIVATE_LAT]
            public = [l for l in links if l["lat"] != PRIVATE_LAT]
            backup = any(l["backupState"] != "UNCONFIGURED" for l in public)
            wireless = any(l["networkType"] == "WIRELESS" for l in public)
            ha = d["haState"] is not None and d["haState"] != "UNCONFIGURED"
            days = 0
            if d["activationState"] == "ACTIVATED":
                days = (dt.date.fromisoformat(d["lastContact"][:10])
                        - dt.date.fromisoformat(d["activationTime"][:10])).days
            model = d["modelNumber"] or "Not set"
            version = d["buildNumber"] or "Not set"
            rows["Edge"][(e,)] = (
                e, d["enterpriseId"], d["name"], d["edgeState"], model,
                version, ha, days, len(private), len(public), backup,
                wireless, d["site"]["city"] or "Not set")
            for l in links:
                rows["Links"][(e, l["internalId"])] = (
                    l["internalId"], e, l["displayName"],
                    "private" if l["lat"] == PRIVATE_LAT else "public",
                    l["networkType"], l["ipAddress"], l["backupState"])
            for name, num, text in [
                    ("Private_links_num", float(len(private)), None),
                    ("Public_links_num", float(len(public)), None),
                    ("Model", None, model), ("Version", None, version)]:
                rows["EdgeAttributes"][(e, name)] = (e, name, num, text)
            f = flags.setdefault(d["enterpriseId"], [False] * 4)
            for i, b in enumerate([ha, backup, wireless, len(private) > 0]):
                f[i] = f[i] or b
    for cust, f in flags.items():
        for name, b in zip(["no_ha", "no_backup", "no_wireless",
                            "no_private_link"], f):
            rows["CustomerAttributes"][(cust, name)] = (
                cust, name, 0.0 if b else 1.0)
    bw = {}
    for v in VCOS:
        for m in gen[v]["metrics/getEdgeLinkMetrics"]:
            if m["edgeId"] in edge_ids:
                t = bw.setdefault(m["edgeId"], [0, 0])
                t[0] += m["bpsOfBestPathTx"]
                t[1] += m["bpsOfBestPathRx"]
        for ev in gen[v]["event/getEnterpriseEvents"]:
            if (ev["event_id"] is not None and ev["edgeId"] in edge_ids
                    and ev["event_type"] not in EVENT_SKIP):
                rows["Events"][(ev["event_id"],)] = (
                    ev["event_id"], ev["edgeId"], ev["event_type"],
                    _iso_millis(ev["ts"]))
        by_day = {}
        for q in gen[v]["linkQuality/getLinkQualityEvents"]:
            by_day.setdefault((q["edge_key"], q["ts"][:10]), []).append(q)
        for (k, day), qs in by_day.items():
            qs.sort(key=lambda q: (q["ts"], q["tb"]))
            brown, black = _run_lengths([q["state"] for q in qs])
            rows["DailyQOE"][(k, day)] = (k, day, brown, black)
    for e in edge_ids:
        tx, rx = bw.get(e, (0, 0))
        rows["License"][(e,)] = (e, max(tx, rx) // 1000000)
    return {"rows": rows}


# ------------------------------------------------------ query tables

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "zh", "de", "fr", "es"]


def write_tables(seed, out_dir, sizes):
    """Write the query workloads' parquet tables under ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)

    def put(name, cols):
        pq.write_table(pa.table(cols), "%s/%s.parquet" % (out_dir, name))

    if "documents" in sizes:
        n = sizes["documents"]
        lens = rng.integers(10, 101, n)
        toks = rng.integers(0, len(VOCAB), int(lens.sum()))
        texts, at = [], 0
        for ln in lens:
            texts.append(" ".join(VOCAB[t] for t in toks[at:at + ln]))
            at += ln
        # 5% near-duplicates: a copy of another document plus one token
        for i in rng.choice(n, n // 20, replace=False):
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
        langs = rng.integers(0, len(LANGS), n)
        put("documents", {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if "embeddings" in sizes:
        n = sizes["embeddings"]
        v = rng.normal(size=(n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        put("embeddings", {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        })
    if "events" in sizes:
        n = sizes["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us")
        span = 30 * 86400 * 10 ** 6
        ts = np.sort(rng.integers(0, span, n)) + start
        types = ["signup", "click", "error", "view", "purchase"]
        put("events", {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array([types[i] for i in
                                    rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
            "props": pa.array(['{"k": %d}' % k for k in
                               rng.integers(0, 100, n)]),
        })
    if "orders" in sizes:
        n = sizes["orders"]
        d0 = np.datetime64("1995-01-01", "D")
        days = rng.integers(0, (np.datetime64("2001-08-01", "D") - d0)
                            .astype(int) + 1, n)
        put("orders", {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n),
                                  pa.int64()),
            "o_orderstatus": pa.array([("O", "F", "P")[i] for i in
                                       rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n), 2)),
            "o_orderdate": pa.array((d0 + days).astype("datetime64[us]"),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW")[i]
                                         for i in rng.integers(0, 5, n)]),
        })
        lines = rng.integers(1, 8, n)
        ok = np.repeat(np.arange(n), lines)
        ln = np.concatenate([np.arange(1, k + 1) for k in lines])
        m = len(ok)
        ship = d0 + rng.integers(0, 2400, m)
        put("lineitem", {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n * 2 // 15), m),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, m), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, m),
                                                 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in
                                      rng.integers(0, 3, m)]),
            "l_linestatus": pa.array([("O", "F")[i] for i in
                                      rng.integers(0, 2, m)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                                   pa.timestamp("us")),
        })
