"""The three workloads as lists of operations with their checks.

An operation is a call into the package that returns a DataFrame (or,
for writes, a plain value), plus a check run on the collected result.
Each builder returns a function from pass number to that pass's
operations. The seed picks the vertices of every request, the jaccard
sources and the write payloads; the package only ever sees those
inputs. Every expected answer is computed here, outside the timed
regions, from the DuckDB oracle.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Any, Callable

from oracle import Oracle

PR_TOL = 1e-6  # page_rank auto-vs-dist agreement, per vertex


@dataclass
class Op:
    name: str
    call: Callable[[], Any]
    check: Callable[[Any], bool]
    kind: str = "read"


Passes = Callable[[int], list[Op]]


def _ids(rows) -> set[str]:
    return {r["id"] for r in rows}


# -- olap ------------------------------------------------------------
def olap(graph, oracle: Oracle, rng: random.Random) -> Passes:
    from incubator_hugegraph_spark.algorithms.community import (
        triangle_count)
    from incubator_hugegraph_spark.algorithms.pagerank import page_rank
    from incubator_hugegraph_spark.algorithms.wcc import wcc
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)

    customers = oracle.ids("customer")
    sources = rng.sample(customers, min(100, len(customers)))
    n_vertices = len(oracle.labels)
    want_jaccard = sorted((s, i, j) for s in sources
                          for i, j in oracle.jaccard_top(s, 20))
    dist_rows: dict[str, Any] = {}

    def ranks(rows) -> dict[str, float]:
        return {r["id"]: r["rank"] for r in rows}

    def check_pr(engine):
        def check(rows):
            got = ranks(rows)
            ok = (len(got) == n_vertices
                  and abs(sum(got.values()) - 1.0) < PR_TOL)
            if engine == "dist":
                dist_rows["page_rank"] = got
                return ok
            ref = dist_rows.get("page_rank")
            return ok and ref is not None and ref.keys() == got.keys() \
                and all(abs(got[k] - ref[k]) <= PR_TOL for k in ref)
        return check

    def check_wcc(engine):
        def check(rows):
            got = {r["id"]: r["component"] for r in rows}
            ok = (len(got) == n_vertices
                  and len(set(got.values())) == oracle.components())
            if engine == "dist":
                dist_rows["wcc"] = got
                return ok
            return ok and got == dist_rows.get("wcc")
        return check

    def check_tri(engine):
        return lambda rows: ([r["triangles"] for r in rows]
                             == [oracle.triangles()])

    def check_jaccard(engine):
        def check(rows):
            got = sorted((r["source"], r["id"], r["jaccard"]) for r in rows)
            return len(got) == len(want_jaccard) and all(
                a[:2] == b[:2] and abs(a[2] - b[2]) < 1e-9
                for a, b in zip(got, want_jaccard))
        return check

    ops = []
    for job, make, check in [
        ("page_rank", lambda e: page_rank(graph, alpha=0.15, max_times=20,
                                          precision=1e-4, engine=e),
         check_pr),
        ("wcc", lambda e: wcc(graph, engine=e), check_wcc),
        ("triangle_count", lambda e: triangle_count(graph, engine=e),
         check_tri),
        ("jaccard_top_batch",
         lambda e: jaccard_top_batch(graph, sources, top=20, engine=e),
         check_jaccard),
    ]:
        for engine in ("dist", "auto"):
            ops.append(Op(f"{job}.{engine}",
                          (lambda m=make, e=engine: m(e)), check(engine)))
    return lambda k: ops


# -- serve -----------------------------------------------------------
def serve(graph, oracle: Oracle, rng: random.Random) -> Passes:
    """One request of each kind per pass. The seed picks every
    request's vertices; the kind order is fixed, so the JVM's warm-up
    cost lands on the same requests in every run."""
    from incubator_hugegraph_spark import rest

    customers = oracle.ids("customer")
    parts = oracle.ids("part")
    orders = oracle.ids("order")

    def pair():
        return rng.sample(customers, 2)

    ops: list[Op] = []
    ids = [rng.choice(customers), rng.choice(parts), rng.choice(orders)]
    want_v = {(i, oracle.labels[i]) for i in ids}
    ops.append(Op("vertices", lambda: rest.execute(
        graph, "vertices", {"ids": ids}),
        lambda rows: {(r["id"], r["label"]) for r in rows} == want_v))

    k = int(rng.choice(customers).split("!")[1])
    cypher = (f"MATCH (c:customer {{name: 'Customer#{k:09d}'}})"
              "-[:placed]->(o:order)-[:contains]->(p:part) "
              "RETURN count(DISTINCT p) AS n")
    want_c = oracle.customer_parts(k)
    ops.append(Op("cypher", lambda: rest.execute_cypher(
        graph, {"cypher": cypher}),
        lambda rows: [r["n"] for r in rows] == [want_c]))

    g = rng.choice(customers)
    gremlin = f"g.V('{g}').both().both().dedup().count()"
    want_g = oracle.two_hop_distinct(g)
    ops.append(Op("gremlin", lambda: rest.execute_gremlin(
        graph, {"gremlin": gremlin}),
        lambda rows: [r[0] for r in rows] == [want_g]))

    a, b = pair()
    want_sn = oracle.same_neighbors(a, b)
    ops.append(Op("sameneighbors", lambda: rest.execute(
        graph, "sameneighbors", {"vertex": a, "other": b}),
        lambda rows: _ids(rows) == want_sn))

    c, d = pair()
    want_j = oracle.jaccard_pair(c, d)
    ops.append(Op("jaccardsimilarity", lambda: rest.execute(
        graph, "jaccardsimilarity", {"vertex": c, "other": d}),
        lambda rows: len(rows) == 1
        and abs(rows[0]["jaccard"] - want_j) < 1e-9))

    kn = rng.choice(customers)
    want_kn = set(oracle.layers(kn, 2, oracle.both).items())
    ops.append(Op("kneighbor", lambda: rest.execute(
        graph, "kneighbor", {"source": kn, "max_depth": 2}),
        lambda rows: {(r["id"], r["dist"]) for r in rows} == want_kn))

    # target: a part the source ordered, so every seed's search stops
    # after two rounds (the path search enumerates every simple path
    # up to the target's depth, and that count varies widely deeper)
    buyers = [c for c in customers
              if oracle.layers(c, 2, oracle.out).keys() & set(parts)]
    src = rng.choice(buyers)
    tgt = rng.choice(sorted(oracle.layers(src, 2, oracle.out).keys()
                            & set(parts)))
    path = oracle.shortest_path(src, tgt, 4)
    ops.append(Op("shortestpath", lambda: rest.execute(
        graph, "shortestpath", {"source": src, "target": tgt,
                                "max_depth": 4}),
        lambda rows: [(r["path"], r["length"]) for r in rows]
        == [(path, path.count(">"))]))
    return lambda k: ops


# -- ingest ----------------------------------------------------------
BATCH = 4  # new customers per cycle


def ingest(graph, oracle: Oracle, rng: random.Random) -> Passes:
    from incubator_hugegraph_spark import rest
    from incubator_hugegraph_spark.operators.bfs import kout

    orders = oracle.ids("order")
    nations = oracle.ids("nation")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]

    def cycle(k: int) -> list[Op]:
        vids = [f"customer!new-{k}-{i}" for i in range(BATCH)]
        vertices = [{"label": "customer", "id": v,
                     "properties": {"name": f"Customer#new-{k}-{i}",
                                    "acctbal": round(rng.uniform(0, 9999),
                                                     2),
                                    "mktsegment": rng.choice(segments)}}
                    for i, v in enumerate(vids)]
        edges, written = [], {v: set() for v in vids}
        for v in vids:
            for o in rng.sample(orders, 2):
                edges.append({"label": "placed", "outV": v, "inV": o,
                              "properties": {"orderdate": "1998-08-02",
                                             "totalprice": 1000.0}})
                written[v].add(o)
            n = rng.choice(nations)
            edges.append({"label": "in_nation", "outV": v, "inV": n,
                          "properties": {}})
            written[v].add(n)
        probe = vids[0]
        return [
            Op("vertices_batch", lambda: rest.execute_graph_crud(
                graph, "POST", "vertices/batch", vertices),
               lambda ids: list(ids) == vids, kind="write"),
            Op("edges_batch", lambda: rest.execute_graph_crud(
                graph, "POST", "edges/batch", edges),
               lambda eids: len(eids) == len(edges), kind="write"),
            Op("kout.auto", lambda: kout(graph, probe, 1),
               lambda rows: written[probe] <= _ids(rows)),
            Op("kneighbor.rest", lambda: rest.execute(
                graph, "kneighbor", {"source": probe, "max_depth": 2}),
               lambda rows: written[probe] <= {r["id"] for r in rows
                                               if r["dist"] == 1}),
        ]
    return cycle


BUILDERS = {"olap": olap, "serve": serve, "ingest": ingest}
