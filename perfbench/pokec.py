"""pokec_analytics: path searches and graph procedures on a pokec-profile
graph generated from the seed.

Degrees follow the engine's pokec generator: Pareto out-degrees and a
Zipf-like in-degree over a random permutation of the ids. The graph is
sized just above the driver-local cutover (`spark.graft.local.edges`,
set by this workload), so the searches and procedures take the
distributed fixpoints after their cutover probes bail. The filtered BFS
is the exception: its filter keeps about half of the edges, well under
the cutover, so it takes the driver-local path on every seed.

Oracles: networkx for path lengths, path counts, neighbourhoods and
components; numpy power iteration for pagerank (the engine's variant:
15 rounds, damping 0.85, no dangling redistribution), compared within a
relative tolerance of 1e-6.
"""
import random

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from compare import same_rows
from ldbc import fill

TEMPLATES = {
    "bfs": """MATCH (n:User {id: <<src>>}), (m:User {id: <<dst>>}) WITH n, m
MATCH p = (n)-[*BFS..15]->(m)
RETURN size(nodes(p)) - 1 AS hops""",
    "bfs_filter": """MATCH (n:User {id: <<src>>}), (m:User {id: <<dst>>}) WITH n, m
MATCH p = (n)-[*BFS..15 (e, v | v.age >= <<min_age>>)]->(m)
RETURN size(nodes(p)) - 1 AS hops""",
    "allshortest": """MATCH (n:User {id: <<src>>}), (m:User {id: <<dst>>}) WITH n, m
MATCH p = (n)-[*ALLSHORTEST ..3 (r, v | 1) total_weight]->(m)
RETURN count(*) AS n_paths, toInteger(min(total_weight)) AS w""",
    "neighbours2": """MATCH (s:User {id: <<src>>})-[*1..2]->(t:User)
RETURN count(DISTINCT t.id) AS n, min(t.id) AS lo, max(t.id) AS hi""",
    "pagerank": """CALL pagerank.get({label: 'User', type: 'FRIEND'})
YIELD node, rank
WITH node, rank ORDER BY rank DESC, node ASC LIMIT 10
MATCH (u:User) WHERE id(u) = node
RETURN u.id AS id, rank""",
    "wcc": """CALL weakly_connected_components.get({label: 'User', type: 'FRIEND'})
YIELD node, component_id
WITH component_id, count(*) AS size
RETURN count(*) AS components, max(size) AS largest""",
}
ORDER = ["bfs", "bfs_filter", "allshortest", "neighbours2", "pagerank", "wcc"]
# warm-up: each path search once, with sources the timed stream never
# uses, so their first runs in the JVM (bfs ~3 s slower, allshortest ~1 s)
# are not timed. pagerank and wcc run after the searches; their first run
# is ~10% slower than a second, no more than the searches' own settling
# between a first and a second timed cycle, and warming them would add
# ~10 s to every run.
WARMUP = ["neighbours2", "bfs_filter", "allshortest", "bfs"]
# hop distance of the pairs each path template is given: fixed, so every
# seed asks for the same amount of search
PAIR_HOPS = {"bfs": 3, "bfs_filter": 3, "allshortest": 2}
PR_TOLERANCE = 1e-6
# bfs_filter enters only users this old: half the ages, so the edges the
# filter keeps (~62k, into users passing it) stay far under the cutover
# on every seed. A looser filter such as `age >= 18` keeps ~96k, near
# enough to the cutover that seeds whose most popular users pass it take
# the distributed path at six times the latency.
FILTER_AGE = 40


def age(ids):
    return (ids * 37) % 80


def generate(out_dir, seed, users, edges):
    rng = np.random.RandomState(seed)
    ids = np.arange(users, dtype=np.int64)
    pq.write_table(pa.table({
        "id": ids, "age": age(ids), "gender": ids % 2,
        "completion_percentage": (ids * 13) % 100,
    }), "%s/users.parquet" % out_dir)
    mean_deg = edges / users * 1.14  # parallel-edge dedup loses ~12%
    deg = np.maximum(1, ((rng.pareto(2.0, size=users) + 1.0)
                         * (mean_deg / 2.0)).astype(np.int64))
    deg = np.minimum(deg, users - 1)
    perm = rng.permutation(users)
    pop = 1.0 / np.arange(1, users + 1, dtype=np.float64) ** 0.9
    pop /= pop.sum()
    src = np.repeat(ids, deg)
    dst = perm[rng.choice(users, size=src.size, p=pop)]
    keep = src != dst
    pairs = np.unique(src[keep] * np.int64(users) + dst[keep])
    src, dst = pairs // users, pairs % users
    pq.write_table(pa.table({"src": src, "dst": dst}),
                   "%s/friendships.parquet" % out_dir)
    return src, dst


class PokecWorkload:
    graph = "pokec"
    name = "pokec_analytics"
    mixed = False
    cycle = len(ORDER)
    setup_reps = 3

    def __init__(self, users, edges, cutover):
        self.users, self.edges, self.cutover = users, edges, cutover
        self.conf = {"spark.graft.local.edges": str(cutover)}

    def generate(self, data_dir, seed):
        self.src, self.dst = generate(data_dir, seed, self.users, self.edges)

    def prepare(self, data_dir, seed):
        """Oracle graph and parameter pools, outside the timed set-up."""
        src, dst = self.src, self.dst
        self.g = nx.DiGraph()
        self.g.add_nodes_from(range(self.users))
        self.g.add_edges_from(zip(src.tolist(), dst.tolist()))
        self.passes = age(np.arange(self.users)) >= FILTER_AGE
        # each template takes the same path on every seed: the full edge
        # set above the cutover, the filtered one under it
        kept = int(self.passes[dst].sum())
        if not kept < self.cutover < len(src):
            raise SystemExit("pokec seed %d: %d edges, %d after the filter, "
                             "cutover %d" % (seed, len(src), kept, self.cutover))
        self.rng = random.Random(seed)
        # parameter curation, as LDBC does it: sources from the middle of
        # the out-degree distribution, so every seed's searches start
        # from frontiers of similar size
        deg = np.bincount(src, minlength=self.users)
        lo, hi = np.percentile(deg[deg > 0], [40, 60])
        self.sources = [int(s) for s in np.flatnonzero((deg >= lo) & (deg <= hi))]
        self.rng.shuffle(self.sources)
        # unbounded searches run until the frontier empties, so their
        # rounds follow the source's eccentricity: keep it at the mode
        ecc = [max(self._dist(s, 15, False).values()) for s in self.sources[:40]]
        self.ecc = max(set(ecc), key=ecc.count)
        self.next_source = 0
        self._pr = None

    def _dist(self, s, cutoff, filtered):
        """Hop distances from `s`; with `filtered` every vertex entered
        must pass the filter lambda's `v.age >= FILTER_AGE`."""
        dist, frontier = {s: 0}, [s]
        for d in range(1, cutoff + 1):
            nxt = []
            for u in frontier:
                for v in self.g.successors(u):
                    if v not in dist and (not filtered or self.passes[v]):
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        return dist

    def _pair(self, template):
        """A source and a target at exactly PAIR_HOPS hops from it."""
        hops = PAIR_HOPS[template]
        while True:
            s = self.sources[self.next_source % len(self.sources)]
            self.next_source += 1
            if template == "bfs" and max(self._dist(s, 15, False).values()) != self.ecc:
                continue
            dist = self._dist(s, hops, template == "bfs_filter")
            at = sorted(v for v, d in dist.items() if d == hops)
            if at:
                return s, self.rng.choice(at)

    def _params(self, template):
        if template in PAIR_HOPS:
            s, d = self._pair(template)
            return {"src": s, "dst": d}
        if template == "neighbours2":
            s = self.sources[self.next_source % len(self.sources)]
            self.next_source += 1
            return {"src": s}
        return {}

    def streams(self, max_cycles):
        warm = [("read", t, self._params(t)) for t in WARMUP]
        return warm, [("read", t, self._params(t))
                      for _ in range(max_cycles) for t in ORDER]

    def cypher(self, template, params):
        return fill(TEMPLATES[template], dict(params, min_age=FILTER_AGE))

    def expected(self, template, p):
        if template in ("bfs", "bfs_filter"):
            dist = self._dist(p["src"], 15, template == "bfs_filter")
            return [[dist[p["dst"]]]] if p["dst"] in dist else []
        if template == "allshortest":
            paths = list(nx.all_shortest_paths(self.g, p["src"], p["dst"]))
            return [[len(paths), len(paths[0]) - 1]]
        if template == "neighbours2":
            one = set(self.g.successors(p["src"]))
            reach = one.union(*(self.g.successors(v) for v in one))
            return [[len(reach), min(reach), max(reach)]]
        if template == "wcc":
            comps = list(nx.weakly_connected_components(self.g))
            return [[len(comps), max(len(c) for c in comps)]]
        raise KeyError(template)

    def pagerank(self):
        if self._pr is not None:
            return self._pr
        n = self.users
        deg = np.bincount(self.src, minlength=n).astype(np.float64)
        pr = np.full(n, 1.0 / n)
        for _ in range(15):
            s = np.bincount(self.dst, weights=pr[self.src] / deg[self.src],
                            minlength=n)
            pr = (1 - 0.85) / n + 0.85 * s
        self._pr = pr
        return pr

    def _check_pagerank(self, rows):
        pr = self.pagerank()
        tenth = np.sort(pr)[-10]
        if len(rows) != 10 or len({r[0] for r in rows}) != 10:
            return False, "expected 10 distinct rows, got %d" % len(rows)
        for uid, rank in rows:
            want = pr[int(uid)]
            if abs(rank - want) > PR_TOLERANCE * want:
                return False, "rank of %s: %r != %r" % (uid, rank, want)
            if want < tenth * (1 - PR_TOLERANCE):
                return False, "%s is not among the top 10" % uid
        return True, ""

    def check(self, executed):
        verdicts = []
        for _kind, template, params, rows in executed:
            if rows is None:
                verdicts.append((False, "error"))
            elif template == "pagerank":
                verdicts.append(self._check_pagerank(rows))
            else:
                verdicts.append(same_rows(rows, self.expected(template, params)))
        return verdicts
