"""Expected answers computed with DuckDB over the raw source tables.

DuckDB derives the vertex and edge lists from the parquet tables with
its own SQL copy of the rules in FIXTURES.md §A.2; graph searches
(BFS layers, shortest paths, components) then run in plain Python over
those lists. Nothing here touches Spark or the package under test, and
the benchmark calls it only outside its timed regions.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque
from decimal import ROUND_HALF_UP, Decimal

import duckdb

_VERTEX_SQL = """
SELECT 'region!' || r_regionkey AS id, 'region' AS label FROM region
UNION ALL SELECT 'nation!' || n_nationkey, 'nation' FROM nation
UNION ALL SELECT 'customer!' || c_custkey, 'customer' FROM customer
UNION ALL SELECT 'supplier!' || s_suppkey, 'supplier' FROM supplier
UNION ALL SELECT 'part!' || p_partkey, 'part' FROM part
UNION ALL SELECT 'order!' || o_orderkey, 'order' FROM orders
"""

_EDGE_SQL = """
SELECT 'customer!' || c_custkey AS src, 'nation!' || c_nationkey AS dst
  FROM customer
UNION ALL SELECT 'nation!' || n_nationkey, 'region!' || n_regionkey
  FROM nation
UNION ALL SELECT 'supplier!' || s_suppkey, 'nation!' || s_nationkey
  FROM supplier
UNION ALL SELECT 'customer!' || o_custkey, 'order!' || o_orderkey
  FROM orders
UNION ALL SELECT 'order!' || l_orderkey, 'part!' || l_partkey FROM lineitem
UNION ALL SELECT DISTINCT 'supplier!' || l_suppkey, 'part!' || l_partkey
  FROM lineitem
UNION ALL SELECT 'customer!' || pu, 'customer!' || user_id
  FROM (SELECT lag(user_id) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS pu, user_id
        FROM events)
  WHERE pu IS NOT NULL AND pu <> user_id
"""

_TRIANGLE_SQL = f"""
WITH und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             FROM ({_EDGE_SQL}) WHERE src <> dst)
SELECT count(*) FROM und e1 JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
"""

_CUSTOMER_PARTS_SQL = """
SELECT count(DISTINCT l.l_partkey) FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = ?
"""

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events"]


def round6(x: float) -> float:
    """Half-up rounding of the shortest decimal form of ``x`` to six
    places, the rule Spark's ``round(col, 6)`` applies to doubles."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           ROUND_HALF_UP))


class Oracle:
    def __init__(self, fixture_dir: str):
        self._db = duckdb.connect()
        for t in _TABLES:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self._db.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.labels = dict(self._db.execute(_VERTEX_SQL).fetchall())
        self.out: dict[str, set[str]] = defaultdict(set)
        self.both: dict[str, set[str]] = defaultdict(set)
        for src, dst in self._db.execute(_EDGE_SQL).fetchall():
            self.out[src].add(dst)
            self.both[src].add(dst)
            self.both[dst].add(src)
        self._triangles: int | None = None
        self._components: int | None = None

    def ids(self, label: str) -> list[str]:
        return sorted(v for v, lab in self.labels.items() if lab == label)

    # -- whole-graph answers -----------------------------------------
    def triangles(self) -> int:
        if self._triangles is None:
            self._triangles = self._db.execute(_TRIANGLE_SQL).fetchone()[0]
        return self._triangles

    def components(self) -> int:
        """Weakly connected components over every vertex."""
        if self._components is None:
            seen: set[str] = set()
            count = 0
            for v in self.labels:
                if v in seen:
                    continue
                count += 1
                seen.add(v)
                stack = [v]
                while stack:
                    for w in self.both.get(stack.pop(), ()):
                        if w not in seen:
                            seen.add(w)
                            stack.append(w)
            self._components = count
        return self._components

    def jaccard_top(self, source: str, top: int) -> list[tuple[str, float]]:
        """Top-``top`` (id, jaccard) by jaccard desc then id, over the
        BOTH-direction neighbour sets; candidates share ≥1 neighbour."""
        mine = self.both.get(source, set())
        inter: dict[str, int] = defaultdict(int)
        for n in mine:
            for c in self.both[n]:
                if c != source:
                    inter[c] += 1
        scored = [(c, round6(k / (len(mine) + len(self.both[c]) - k)))
                  for c, k in inter.items()]
        scored.sort(key=lambda t: (-t[1], t[0]))
        return scored[:top]

    # -- per-request answers -----------------------------------------
    def layers(self, source: str, depth: int,
               adj: dict[str, set[str]]) -> dict[str, int]:
        """First-reach distance of every vertex within ``depth`` steps,
        source excluded."""
        dist = {source: 0}
        frontier = [source]
        for k in range(1, depth + 1):
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in dist:
                        dist[w] = k
                        nxt.append(w)
            frontier = nxt
        del dist[source]
        return dist

    def shortest_path(self, source: str, target: str,
                      max_depth: int) -> str | None:
        """The lexicographically smallest of all shortest BOTH-direction
        paths, as 'a>b>c', or None when none is ≤ max_depth long."""
        ds = self._bfs_dist(source, max_depth)
        if target not in ds:
            return None
        dt = self._bfs_dist(target, ds[target])
        d = ds[target]
        best: str | None = None
        stack = [(source, [source])]
        while stack:
            v, path = stack.pop()
            if v == target:
                s = ">".join(path)
                best = s if best is None or s < best else best
                continue
            k = len(path)
            for w in self.both.get(v, ()):
                if ds.get(w) == k and dt.get(w) == d - k:
                    stack.append((w, path + [w]))
        return best

    def _bfs_dist(self, source: str, depth: int) -> dict[str, int]:
        dist = {source: 0}
        q = deque([source])
        while q:
            v = q.popleft()
            if dist[v] == depth:
                continue
            for w in self.both.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        return dist

    def same_neighbors(self, a: str, b: str) -> set[str]:
        return self.both.get(a, set()) & self.both.get(b, set())

    def jaccard_pair(self, a: str, b: str) -> float:
        na, nb = self.both.get(a, set()), self.both.get(b, set())
        union = len(na | nb)
        return round6(len(na & nb) / union) if union else 0.0

    def customer_parts(self, custkey: int) -> int:
        """Distinct parts over a customer's orders (placed → contains)."""
        return self._db.execute(_CUSTOMER_PARTS_SQL,
                                [custkey]).fetchone()[0]

    def two_hop_distinct(self, source: str) -> int:
        """|{w : v ∈ N(source), w ∈ N(v)}|, BOTH direction."""
        return len({w for v in self.both.get(source, ())
                    for w in self.both[v]})

    def close(self) -> None:
        self._db.close()
