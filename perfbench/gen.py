"""Seeded inputs for the benchmark: the threat-report corpus and the op plan.
The same seed gives byte-identical files; nothing else feeds the engine
besides the fixture tables, which every run serves unchanged. The seed draws
the op sequence, the seed vertices, the report corpus and the query order.

Every entity in the report corpus carries attributes that are a function of
its key, so a resource re-reported in a later micro-batch is an exact re-send
and first-write-wins ingest equals a single batch ingest in arrival order.
"""
import json
import os

import duckdb
import numpy as np

# The tables: byte copies of the repository's sf0.01 test fixture
# (TESTDATA.md, FIXTURES.md), the scale its oracle gate runs at.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")

OLTP_PASSES = 40
INITIAL_RESOURCES = 240
BATCH_NEW, BATCH_REPEAT = 9, 3


def zipf_index(rng, n, s=1.1, size=None):
    """Index in [0, n) drawn with probability proportional to 1/(i+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


# ---------------------------------------------------------------- reports

def _hash_attrs(h):
    """Datetime and detection ratio of a file hash: a function of the hash."""
    k = int(h[1:])
    return f"2016-{1 + k % 12:02d}-{1 + k % 28:02d} 00:00:00", f"{k % 5}/{4 + k % 3}"


def _report(rng, resource, is_ip, pools):
    rep = {}
    if is_ip:
        rep["dns-resolutions"] = [
            {"domain": f"host{d}.example", "date": f"2017-01-{1 + d % 28:02d}"}
            for d in sorted(set(zipf_index(rng, pools["hosts"], 1.1, 2).tolist()))]
    else:
        subs = int(rng.integers(0, 3))
        if subs:
            rep["observed-subdomains"] = [{"domain": f"s{j}.{resource}"} for j in range(subs)]
        ips = sorted(set(zipf_index(rng, pools["ips"], 1.1, int(rng.integers(1, 4))).tolist()))
        rep["dns-resolutions"] = [
            {"ipaddress": f"10.9.{i // 256}.{i % 256}", "date": f"2017-02-{1 + i % 28:02d}"}
            for i in ips]
    for lst, prefix in (("detected-downloaded", "m"), ("undetected-downloaded", "l"),
                        ("detected-communicating", "m"), ("undetected-referrer", "l")):
        k = int(rng.integers(0, 3))
        hs = sorted(set(zipf_index(rng, pools["hashes"], 1.1, k).tolist())) if k else []
        if hs:
            rep[lst] = [dict(zip(("hash", "datetime", "prob"),
                                 (f"{prefix}{h}",) + _hash_attrs(f"{prefix}{h}")))
                        for h in hs]
    if not is_ip and rng.random() < 0.6:
        e = int(zipf_index(rng, pools["owners"], 1.1))
        contact = {"email": f"owner{e}@example.org", "name": f"Owner {e}"}
        rep["whois"] = {"contacts": {"admin": contact, "tech": contact}}
    rep["country"] = ["VN", "US", "DE", "FR", "JP"][int(rng.integers(0, 5))]
    rep["categories"] = sorted(set(rng.choice(["phish", "malware", "spam", "c2"],
                                              int(rng.integers(1, 3))).tolist()))
    return json.dumps(rep, sort_keys=True)


def _mentions(rep):
    """Live-graph vertices a report mentions, as `label:key`."""
    r = json.loads(rep)
    out = []
    for s in r.get("observed-subdomains", []):
        out.append(f"domain:{s['domain']}")
    for d in r.get("dns-resolutions", []):
        out.append(f"ip:{d['ipaddress']}" if "ipaddress" in d else f"domain:{d['domain']}")
    for lst, lab in (("detected-downloaded", "malicious"), ("detected-communicating", "malicious"),
                     ("undetected-downloaded", "legitimate"), ("undetected-referrer", "legitimate")):
        out += [f"{lab}:{x['hash']}" for x in r.get(lst, [])]
    if "whois" in r:
        out.append(f"owner:{r['whois']['contacts']['admin']['email']}")
    return out


def reports(rng, n_batches):
    """(batch, resource, report) rows: batch 0 is the initial load, then
    micro-batches mixing new resources with exact re-sends."""
    pools = dict(hosts=400, ips=150, hashes=300, owners=60)
    rows, sent = [], []
    nxt = 0

    def new():
        nonlocal nxt
        i = nxt
        nxt += 1
        is_ip = i % 5 == 4
        res = f"10.{i // 65536}.{(i // 256) % 256}.{i % 256}" if is_ip else f"site{i}.example"
        rep = _report(rng, res, is_ip, pools)
        sent.append((res, rep))
        return res, rep

    for _ in range(INITIAL_RESOURCES):
        rows.append((0, *new()))
    for b in range(1, n_batches + 1):
        batch = [new() for _ in range(BATCH_NEW)]
        # re-sends of earlier reports, distinct within the batch
        earlier = rng.choice(len(sent) - BATCH_NEW, BATCH_REPEAT, replace=False)
        batch += [sent[int(i)] for i in earlier]
        order = rng.permutation(len(batch))
        rows += [(b, *batch[i]) for i in order]
    return rows


# ---------------------------------------------------------------- plans

GRAPH_QUERIES = ["graph_pagerank", "graph_ppr", "graph_eigenvector", "graph_hits",
                 "graph_lpa", "graph_modularity", "graph_stress", "graph_cc",
                 "graph_kcore", "graph_triangles"]
LLM_QUERIES = ["dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
               "dedup_containment", "similarity_topk", "similarity_lsh",
               "similarity_join_exact", "embedding_outliers", "lang_id", "quality_filter",
               "pii_redact", "text_rake_keyphrases", "curation_pipeline",
               "neardedup_pipeline", "bm25_retrieval"]

CUSTOMER, SUPPLIER, PART, NATION, REGION = (3000000000, 4000000000, 5000000000,
                                            2000000000, 1000000000)

# Per pass on each graph: op kind -> count. A write (with a lookup of what
# it wrote) rides along once per pass.
# The read median falls inside the block of neighbor ops, not on the edge
# between point lookups and traversals.
READ_MIX = {"lookup": 3, "search": 2, "neighbors": 5, "khop2": 1, "ego_json": 1}


def inventory_plan(rng, queries, passes=30, first=None):
    """Passes over `queries` in seeded order, each opening with `first` when
    given."""
    rest = [q for q in queries if q != first]
    head = [first] if first else []
    return [(p, "query", "-", q) for p in range(passes)
            for q in head + list(rng.permutation(rest))]


def _fixture_sql(sql):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("@", FIXTURE + "/")).fetchall()
    finally:
        con.close()


def _stored_ranked():
    """Derived-graph vertex ids, most-connected first."""
    deg = _fixture_sql(f"""
        SELECT id, COUNT(*) AS d FROM (
          SELECT {CUSTOMER} + o_custkey AS id FROM '@orders.parquet'
            JOIN '@lineitem.parquet' ON o_orderkey = l_orderkey
          UNION ALL SELECT {PART} + l_partkey FROM '@lineitem.parquet'
          UNION ALL SELECT {SUPPLIER} + l_suppkey FROM '@lineitem.parquet')
        GROUP BY id ORDER BY d DESC, id""")
    ids = [r[0] for r in deg]
    ids += [NATION + i for i in range(25)] + [REGION + i for i in range(5)]
    return ids


def stored_search(rng, customers, parts):
    """A Mongo filter on the stored graph and the same predicate in SQL."""
    k = int(rng.integers(0, 3))
    if k == 0:
        p = int(rng.integers(0, customers // 100))
        return (json.dumps({"$and": [{"label": "customer"},
                                     {"name": {"$regex": f"^Customer#0000{p:03d}"}}]}),
                f"label = 'customer' AND regexp_matches(name, '^Customer#0000{p:03d}')")
    if k == 1:
        lo = PART + int(rng.integers(0, parts - 40))
        return (json.dumps({"id": {"$gte": lo, "$lt": lo + 40}}),
                f"id >= {lo} AND id < {lo + 40}")
    r = int(rng.integers(0, 5))
    return (json.dumps({"$or": [{"label": "region"}, {"name": f"NATION_{r}"}]}),
            f"label = 'region' OR name = 'NATION_{r}'")


def oltp_plan(rng, report_rows):
    """Op plan and the SQL each search corresponds to."""
    ranked = _stored_ranked()
    (customers, parts), = _fixture_sql(
        "SELECT (SELECT COUNT(*) FROM '@customer.parquet'), "
        "(SELECT COUNT(*) FROM '@part.parquet')")
    by_batch = {}
    for b, res, rep in report_rows:
        by_batch.setdefault(b, []).append((res, rep))
    known = []  # live vertices written so far, in first-mention order
    seen = set()

    def learn(batch):
        for res, rep in by_batch[batch]:
            lab = "ip" if res.startswith("10.") else "domain"
            for v in [f"{lab}:{res}"] + _mentions(rep):
                if v not in seen:
                    seen.add(v)
                    known.append(v)

    learn(0)
    plan, search_sql = [], {}
    # A pass opens with one read of each kind on each graph in a fixed
    # order: the first op of a kind pays its JIT warm-up (the first depth-4
    # ego read ran ~1 s slower than the second), and this way that cost
    # lands on the same ops in every run. The rest follow in seeded order.
    # Pass 0, the warm-up pass the engine runs before the measured ones,
    # holds only the opening reads and the write.
    prefix = [(g, k) for g in ("stored", "live") for k in READ_MIX]
    rest = [(g, k) for g in ("stored", "live") for k, cnt in READ_MIX.items()
            for _ in range(cnt - 1)] + [("live", "write")]
    for p in range(OLTP_PASSES):
        order = [rest[-1]] if p == 0 else [rest[i] for i in rng.permutation(len(rest))]
        for graph, kind in prefix + order:
            if kind == "write":
                b = p + 1
                learn(b)
                plan.append((p, "write", "live", str(b)))
                just = sorted({("ip" if r.startswith("10.") else "domain") + ":" + r
                               for r, _ in by_batch[b]})
                plan.append((p, "lookup", "live", ",".join(just)))
                continue
            if graph == "stored":
                pick = lambda: str(ranked[int(zipf_index(rng, len(ranked)))])
                if kind == "search":
                    arg, search_sql[len(plan)] = stored_search(rng, customers, parts)
                elif kind == "lookup":
                    arg = ",".join(pick() for _ in range(5))
                else:
                    arg = pick()
            else:
                # hubs were mentioned first and most often: Zipf over known order
                pick = lambda: known[int(zipf_index(rng, len(known), 0.8))]
                if kind == "search":
                    t = round(float(rng.uniform(0.2, 0.9)), 2)
                    arg = json.dumps({"$and": [{"label": "domain"},
                                               {"detected_prop": {"$gte": t}}]})
                    search_sql[len(plan)] = (f"label = 'domain' AND "
                                             f"detected_prop >= CAST({t} AS DOUBLE)")
                elif kind == "lookup":
                    arg = ",".join(sorted({pick() for _ in range(5)}))
                else:
                    arg = pick()
            plan.append((p, kind, graph, arg))
    return plan, search_sql


def generate(seed, workload, work):
    """Write plan.tsv and (graph_oltp) reports.tsv under `work`. Returns the
    side information the checks need."""
    rng = np.random.Generator(np.random.PCG64(seed))
    side = {}
    if workload == "graph_oltp":
        rows = reports(rng, OLTP_PASSES)
        with open(f"{work}/reports.tsv", "w") as f:
            f.writelines(f"{b}\t{r}\t{j}\n" for b, r, j in rows)
        plan, side["search_sql"] = oltp_plan(rng, rows)
    elif workload == "graph_analytics":
        # The first iterative query of a fresh session pays the JIT warm-up
        # of the shared DataFrame loop (graph_hits read 4.1-4.4 s when first
        # against 2.4-2.8 s later on), so every pass opens with pagerank and
        # that cost lands on one query in every run.
        plan = inventory_plan(rng, GRAPH_QUERIES, first="graph_pagerank")
    elif workload == "llm_curation":
        plan = inventory_plan(rng, LLM_QUERIES)
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{work}/plan.tsv", "w") as f:
        f.writelines(f"{p}\t{k}\t{g}\t{a}\n" for p, k, g, a in plan)
    return side
