"""DuckDB recursive-CTE oracles for the engine's ITERATIVE operators.

Round 1 shipped the iterative fixpoints (PageRank, HITS, connected
components, label propagation, k-core, BFS, near-dup clustering) as
rows-only contract keys — "not expressible in one SQL statement" — each
pinned by a pytest oracle instead. That was too conservative: DuckDB's
recursive CTEs allow GROUP BY and window functions in the recursive
term, which is enough to express a full synchronous fixpoint iteration
(state rows carry the iteration counter; scalar per-iteration facts like
the L2 norm, the residual and the dangling mass ride along as windows
over the whole working table). These builders turn every one of those
keys into a full value-checked oracle.

Each builder returns a SELECT that assumes the caller prefixed the
shared graph CTEs (``edges``, ``vertices``, ``sym`` — see
``__spark_entry__._EDGES_CTE``). They are oracle-only SQL: DuckDB
dialect, run by the external driver and ``tools/check_contract.py``
against the same parquet inputs as the Spark queries. None of this is
an execution path of the engine.

Three exactness notes, each load-bearing:

* **The self-row trick.** A recursive term may reference the recursive
  table only once, but an iteration needs both the neighbor messages
  AND each vertex's own previous state. We join the state against
  ``real edges UNION ALL one marker self-row per vertex``: the real
  rows produce the messages, the marker rows carry the previous value
  through the same single reference (``filter (where own = 1)``).
* **Monotone states skip the counter.** CC labels and BFS distances
  only ever decrease, so the final value is ``min`` over the whole
  trajectory — no iteration bookkeeping in the outer query.
* **Stopping must match the engine exactly.** The engine stops on
  ``residual < epsilon`` (strict) or ``max_iterations``; the recursion
  gates on ``res >= epsilon and i < max_iterations``, reproducing the
  same trajectory. Residual formulas are copied from the engine
  (graph/pagerank.py:550-553, graph/hits.py:118-121) so both sides
  see the same cancellation behavior near convergence; epsilons are
  chosen decisively above the float64 noise floor of those formulas
  (~1e-8), so both implementations stop at the same iteration.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# PageRank — graph/pagerank.py:498-568 (dataframe path), reference Eq 5.1
# ---------------------------------------------------------------------------


def _pagerank_cte(
    alpha: float,
    epsilon: float,
    max_iterations: int,
    v_pred: str | None,
    edges_rel: str = "edges",
    vertices_rel: str = "vertices",
    weighted: bool = False,
    suffix: str = "",
) -> str:
    """CTE chain ending in ``pr(url, x)`` — the converged rank vector.

    State per iteration: (i, v, x, dm, res) — x unit-L2, dm = dangling
    mass of x, res = residual that ENTERED this state (1e300 for x0 so
    the first iteration always runs). Update (graph/pagerank.py:515-557):

        msg(t)  = sum over edge ROWS (s,t) of x(s)/outdeg(s)
        u       = alpha*msg + (alpha*dm + 1-alpha)*v
        x'      = u/||u||_2
        res     = sqrt(max(0, 1 - 2*sum(u*x)/||u|| + sum(x*x)))
        dm'     = sum(u over dangling)/||u||

    ``v_pred`` personalizes: SQL boolean over ``url`` (indicator,
    L2-normalized) — None means uniform. x0 is uniform 1/sqrt(n) either
    way (graph/pagerank.py:252-255).
    """
    vv = f"case when {v_pred} then 1.0 else 0.0 end" if v_pred else "1.0"
    E, V = edges_rel, vertices_rel
    tw = (
        "w / (sum(w) over (partition by src))"
        if weighted
        else "1.0/(count(*) over (partition by src))"
    )
    X = suffix
    return f"""
nn{X} as (select count(*)::double as n from {V}),
vat{X} as (
  select url as v,
         ({vv}) / sqrt((select sum(({vv})*({vv})) from {V})) as vv,
         (url not in (select src from {E})) as dang
  from {V}
),
ew{X} as (
  select src, dst, {tw} as w, 0 as own
  from {E}
  union all
  select url, url, 0.0, 1 from {V}
),
pr{X} as (
  with recursive st(i, v, x, dm, res) as (
    select 0, url, 1.0/sqrt(n),
           (select count(*) from {V}
             where url not in (select src from {E})) / sqrt(n),
           1e300
    from {V}, nn{X}
    union all
    select i + 1 as i, v,
           u / sqrt(sum(u*u) over ()) as x,
           (sum(case when dang then u else 0 end) over ())
               / sqrt(sum(u*u) over ()) as dm,
           sqrt(greatest(0.0,
                1.0 - 2.0*(sum(u*xp) over ())/sqrt(sum(u*u) over ())
                    + (sum(xp*xp) over ()))) as res
    from (
      select m.i, m.v, m.xp, a.dang,
             {alpha} * coalesce(m.msg, 0.0)
                 + ({alpha} * m.dm + {1.0 - alpha}) * a.vv as u
      from (
        select s.i as i, e.dst as v,
               sum(s.x * e.w) filter (where e.own = 0) as msg,
               min(s.x) filter (where e.own = 1) as xp,
               min(s.dm) as dm
        from st s join ew{X} e on e.src = s.v
        where s.res >= {epsilon} and s.i < {max_iterations}
        group by s.i, e.dst
      ) m join vat{X} a on a.v = m.v
    )
  )
  select v as url, x from st where i = (select max(i) from st)
)"""


def sql_pagerank_ranks(
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 60,
    v_pred: str | None = None,
    round_digits: int = 6,
    edges_rel: str = "edges",
    vertices_rel: str = "vertices",
    weighted: bool = False,
) -> str:
    """Full damped power iteration to convergence — see _pagerank_cte.

    `weighted=True` reads a `w` column from `edges_rel` (positive
    weights only) and uses weight-proportional transitions w/sum(w) —
    the oracle twin of ingest/edges.py::build_weighted_graph_tables."""
    cte = _pagerank_cte(
        alpha, epsilon, max_iterations, v_pred, edges_rel, vertices_rel, weighted
    )
    return f"{cte}\nselect url, round(x, {round_digits}) as x from pr"


def sql_search_top10(
    epsilon: float = 1e-6,
    max_iterations: int = 60,
) -> str:
    """q_search_top10's composed flow: converged PageRank, then the
    reference's synonym scoring (search/query.py:139-160) for
    query="page" with static synonyms p1:0.9, p2:0.5, p=45, top 10.
    Predicate: url contains any of page/p1/p2; ranking =
    x * (occ(p1)*0.9^45 + occ(p2)*0.5^45); deterministic url tie-break.
    """
    cte = _pagerank_cte(0.85, epsilon, max_iterations, None)
    # occ(w) = non-overlapping substring count = (len - len(remove))/len(w)
    occ1 = "(length(url) - length(replace(url, 'p1', '')))::double / 2"
    occ2 = "(length(url) - length(replace(url, 'p2', '')))::double / 2"
    return f"""{cte},
scored as (
  select url,
         x * (({occ1}) * power(0.9, 45) + ({occ2}) * power(0.5, 45)) as ranking
  from pr
  where url like '%page%' or url like '%p1%' or url like '%p2%'
)
select url, round(ranking, 6) as ranking
from scored order by ranking desc, url asc limit 10"""


# ---------------------------------------------------------------------------
# HITS — graph/hits.py:90-137 (Kleinberg 1999)
# ---------------------------------------------------------------------------


def sql_hits_scores(epsilon: float = 1e-6, max_iterations: int = 60) -> str:
    """Full HITS to convergence. State: (i, v, a, h, res) over ALL
    vertices (zeros off-support — the sums and the residual are
    unchanged, and the engine's final output coalesces to 0.0 on the
    same full vertex set, graph/hits.py:139-149). Per iteration
    (graph/hits.py:92-127):

        a_raw(t) = sum over edge rows (s,t) of h(s);  a' = a_raw/||a_raw||
        res      = sqrt(max(0, 2 - 2*sum(a_raw*a)/||a_raw||))   [i>=1]
        h_raw(s) = sum over edge rows (s,t) of a'(t); h' = h_raw/||h_raw||

    h0 = 1/sqrt(n); the first iteration's residual is +inf in the
    engine — modeled as 1e300 so iteration 2 always runs.
    """
    return f"""
nn as (select count(*)::double as n from vertices),
ew as (
  select src, dst, 1.0 as w, 0 as own from edges
  union all
  select url, url, 0.0, 1 from vertices
),
hs as (
  with recursive st(i, v, a, h, res) as (
    select 0, url, 0.0::double, 1.0/sqrt(n), 1e300 from vertices, nn
    union all
    -- layer D: L2-normalize the hub side, emit the next state
    select i + 1 as i, v, anew,
           hraw / sqrt(sum(hraw*hraw) over ()) as h,
           resnext as res
    from (
      -- layer C: hub step — join a' back over the edges, REVERSED
      -- (contribution of a'(dst) to h(src)); the own-rows carry each
      -- vertex's a' and the global residual through the group-by
      select bb.i, e2.src as v,
             sum(bb.anew * e2.w) as hraw,
             min(bb.anew) filter (where e2.own = 1) as anew,
             min(bb.resnext) as resnext
      from (
        -- layer B: normalize a_raw, compute the residual as a global
        -- window (same formula as graph/hits.py:118-121)
        select aa.*,
               aa.araw / sqrt(sum(aa.araw*aa.araw) over ()) as anew,
               case when aa.i = 0 then 1e300
                    else sqrt(greatest(0.0,
                         2.0 - 2.0*(sum(aa.araw*aa.aprev) over ())
                                   /sqrt(sum(aa.araw*aa.araw) over ())))
               end as resnext
        from (
          -- layer A: authority step — the single recursive reference
          select s.i as i, e.dst as v,
                 sum(s.h * e.w) as araw,
                 min(s.a) filter (where e.own = 1) as aprev
          from st s join ew e on e.src = s.v
          where s.res >= {epsilon} and s.i < {max_iterations}
          group by s.i, e.dst
        ) aa
      ) bb join ew e2 on e2.dst = bb.v
      group by bb.i, e2.src
    )
  )
  select v, a, h from st where i = (select max(i) from st)
)
select vertices.url,
       round(coalesce(hs.h, 0.0), 6) as hub,
       round(coalesce(hs.a, 0.0), 6) as authority
from vertices left join hs on vertices.url = hs.v"""


# ---------------------------------------------------------------------------
# Connected components / BFS — monotone min states, no iteration counter
# ---------------------------------------------------------------------------


def sql_connected_components() -> str:
    """Min-url label propagation over the symmetrized multigraph
    (graph/components.py:47-140). Labels only decrease, so the final
    label is min over the trajectory; recursion stops when a round
    changes nothing (global window flag on the round's rows)."""
    return """
symw as (
  select src, dst, 0 as own from sym
  union all
  select url, url, 1 from vertices
),
cc as (
  with recursive st(v, lbl, chg) as (
    select url, url, 1 from vertices
    union all
    select v, lbl,
           max(case when lbl < old then 1 else 0 end) over () as chg
    from (
      select e.dst as v,
             min(s.lbl) as lbl,
             min(s.lbl) filter (where e.own = 1) as old
      from st s join symw e on e.src = s.v
      where s.chg = 1
      group by e.dst
    )
  )
  select v as url, min(lbl) as component from st group by v
)
select url, component from cc"""


def sql_bfs_distances(source: str) -> str:
    """Hop distances from `source` over the symmetrized graph
    (graph/kcore.py:107-186): Bellman-Ford relaxation where the w=0
    self-row keeps a vertex's current distance; unreached vertices
    never enter the state and are omitted, like the engine."""
    return f"""
symw as (
  select src, dst, 1 as w from sym
  union all
  select url, url, 0 from vertices
),
bfs as (
  with recursive st(v, d, chg) as (
    select url, 0::bigint, 1 from vertices where url = '{source}'
    union all
    select v, d,
           max(case when old is null or d < old then 1 else 0 end) over () as chg
    from (
      select e.dst as v,
             min(s.d + e.w) as d,
             min(s.d) filter (where e.w = 0) as old
      from st s join symw e on e.src = s.v
      where s.chg = 1
      group by e.dst
    )
  )
  select v as url, min(d)::bigint as distance from st group by v
)
select url, distance from bfs"""


# ---------------------------------------------------------------------------
# k-core — graph/kcore.py:41-101 (Seidman 1983 peeling)
# ---------------------------------------------------------------------------


def sql_kcore(k: int) -> str:
    """Iterative peeling on the simple undirected graph. State = the
    surviving SYMMETRIC edge set, each row carrying its round's edge
    count; a round that peels nothing emits no rows (new_cnt < cnt
    fails), stopping the recursion. Degrees come from two windows —
    count by v is the out-side, count by w the in-side, equal by
    symmetry, so one partition each suffices. The outer query applies
    ONE more peel to the last emitted round: a no-op at a fixpoint, and
    the only way to represent the empty-core stop (zero survivor rows
    also end the recursion, leaving the pre-peel round as max(i))."""
    return f"""
und as (select distinct least(src, dst) as a, greatest(src, dst) as b
        from edges where src <> dst),
usym as (select a as v, b as w from und union all select b, a from und),
core as (
  with recursive st(i, v, w, cnt) as (
    select 0, v, w, count(*) over () from usym
    union all
    select i + 1, v, w, new_cnt
    from (
      select i, v, w, cnt, count(*) over () as new_cnt
      from (
        select i, v, w, cnt,
               count(*) over (partition by v) as dv,
               count(*) over (partition by w) as dw
        from st
      ) where dv >= {k} and dw >= {k}
    ) where new_cnt < cnt
  ),
  last as (select * from st where i = (select max(i) from st)),
  fin as (
    select v, w from (
      select v, w,
             count(*) over (partition by v) as dv,
             count(*) over (partition by w) as dw
      from last
    ) where dv >= {k} and dw >= {k}
  )
  select v as url, count(*)::bigint as degree from fin group by v
)
select url, degree from core"""


def sql_ktruss(k: int) -> str:
    """Iterative k-truss peel on the simple undirected graph
    (graph/triangles.py::ktruss). State = the surviving canonical edge
    set (a < b) with its round's edge count; each round recomputes
    per-edge triangle support (common-neighbor count via the two
    neighbor-list subqueries) and keeps support >= k-2; a round that
    peels nothing emits no rows (new_cnt < cnt fails), ending the
    recursion. The outer query recomputes support on the last emitted
    round and filters once more — a no-op at a fixpoint, and the only
    way to represent the empty-truss stop.

    Unlike the older oracles written around the self-row trick, this
    one references the recursive table several times: this DuckDB
    version resolves EVERY reference in the recursive term to the
    previous iteration's working table (verified: a scalar subquery
    count over a second reference sees exactly the prior round's
    rows), which is precisely the per-round edge set the peel needs."""
    sup = """
           (select count(*)
              from (select t1.b as w from {rel} t1 where t1.a = e.a
                    union all
                    select t2.a from {rel} t2 where t2.b = e.a) n1
              join (select t3.b as w from {rel} t3 where t3.a = e.b
                    union all
                    select t4.a from {rel} t4 where t4.b = e.b) n2
                on n2.w = n1.w) as sup"""
    return f"""
und as (select distinct least(src, dst) as a, greatest(src, dst) as b
        from edges where src <> dst),
truss as (
  with recursive st(i, a, b, cnt) as (
    select 0, a, b, count(*) over () from und
    union all
    select i + 1, a, b, new_cnt
    from (
      select i, a, b, cnt, count(*) over () as new_cnt
      from (
        select e.i, e.a, e.b, e.cnt,{sup.format(rel="st")}
        from st e
      ) where sup >= {k - 2}
    ) where new_cnt < cnt
  ),
  last as (select * from st where i = (select max(i) from st)),
  fin as (
    select e.a, e.b,{sup.format(rel="last")}
    from last e
  )
  select a, b, sup::bigint as support from fin where sup >= {k - 2}
)
select a, b, support from truss"""


# ---------------------------------------------------------------------------
# Strongly connected components — graph/scc.py (FW-BW-Trim coloring)
# ---------------------------------------------------------------------------


def sql_scc() -> str:
    """Exact SCCs by definition: component(v) = min url over
    {v} ∪ {w : v ⇝ w and w ⇝ v}. The reachability closure is a plain
    recursive UNION-distinct (cycle-safe) — quadratic in the worst
    case, fine at oracle scale; the engine's FW-BW-Trim rounds
    (graph/scc.py) are the scale path, this is only the truth."""
    return """
reach as (
  with recursive r(a, b) as (
    select src, dst from edges where src <> dst
    union
    select r.a, e.dst from r join edges e on e.src = r.b
  )
  select a, b from r
),
mutual as (
  select r1.a as v, r1.b as w
  from reach r1 join reach r2 on r2.a = r1.b and r2.b = r1.a
),
scc as (
  select url as v, url as w from vertices
  union all
  select v, w from mutual
)
select v as url, min(w) as component from scc group by v"""


# ---------------------------------------------------------------------------
# Label propagation — graph/labelprop.py:50-180
# ---------------------------------------------------------------------------


def sql_label_propagation(iterations: int = 5) -> str:
    """Synchronous LPA, neighbor multiplicities counted, ties broken by
    MIN label in url order, isolated vertices keep their own label.
    Labels are dense ids ordered by url (min-id == min-url, exactly the
    engine's rank_id trick) packed with the negated count into one
    BIGINT — ``(2^31 - cnt) * 2^32 + lbl`` — so the winner per vertex
    is a single integer MIN (measured 40x faster than a struct MIN over
    strings). A fixpoint before `iterations` re-emits itself, matching
    the engine's early-stop final state, so the recursion runs the full
    fixed count unconditionally."""
    return f"""
vid as (select url, (row_number() over (order by url)) as id from vertices),
symi as (
  select s1.id as src, s2.id as dst, 0 as own
  from sym join vid s1 on sym.src = s1.url join vid s2 on sym.dst = s2.url
  union all
  select id, id, 1 from vid
),
lpa as (
  with recursive st(i, v, lbl) as (
    select 0, id, id from vid
    union all
    select i + 1 as i, v,
           coalesce(
             min(case when cnt > 0
                      then (2147483648 - cnt) * 4294967296 + lbl end)
                 % 4294967296,
             min(own_l)) as lbl
    from (
      select s0.i as i, e0.dst as v, s0.lbl as lbl,
             count(*) filter (where e0.own = 0) as cnt,
             min(s0.lbl) filter (where e0.own = 1) as own_l
      from st s0 join symi e0 on e0.src = s0.v
      where s0.i < {iterations}
      group by s0.i, e0.dst, s0.lbl
    )
    group by i, v
  )
  select v, lbl from st where i = (select max(i) from st)
)
select u.url, l.url as label
from lpa join vid u on lpa.v = u.id join vid l on lpa.lbl = l.id"""


# ---------------------------------------------------------------------------
# Near-dup transitive clustering — dedup/clusters.py::dedup_clusters
# ---------------------------------------------------------------------------


def sql_dedup_clusters(pairs_sql: str) -> str:
    """Transitive closure over a candidate-pair SQL (columns a, b):
    cluster_id = min doc_id of the component, survivor = that minimum;
    docs in no pair are omitted (singletons by definition). The pair
    graph is tiny relative to the corpus, so plain reachability closure
    (UNION-distinct) is the simplest exact oracle."""
    return f"""
with vp as ({pairs_sql}),
pe as (select a as src, b as dst from vp union all select b, a from vp),
pn as (select distinct src as v from pe),
cl as (
  with recursive rr(v, lbl) as (
    select v, v from pn
    union
    select pe.dst, rr.lbl from rr join pe on pe.src = rr.v
  )
  select v, min(lbl) as cluster_id from rr group by v
)
select v as doc_id, cluster_id, (v = cluster_id) as is_survivor from cl"""


# ---------------------------------------------------------------------------
# SALSA — graph/salsa.py (Lempel & Moran 2000 closed form)
# ---------------------------------------------------------------------------


def sql_salsa_scores() -> str:
    """SALSA via the paper's closed form (graph/salsa.py docstring):
    min-label CC over the bipartite hub/authority graph ('h:'/'a:'
    prefixed copies, one edge per DISTINCT link), then per-component
    integer degree moments and ONE double division per score —
    (a_c * ind) / (n_a * e_c) — the same association the engine uses,
    so values are bit-identical with no rounding. Component labels are
    internal grouping keys only (engine and oracle each use their own
    min-label)."""
    return """
se as (select distinct src, dst from edges),
bip as (select 'h:' || src as src, 'a:' || dst as dst from se),
bvert as (select src as v from bip union select dst from bip),
bsymw as (
  select src, dst, 0 as own from bip
  union all select dst, src, 0 from bip
  union all select v, v, 1 from bvert
),
bcc as (
  with recursive st(v, lbl, chg) as (
    select v, v, 1 from bvert
    union all
    select v, lbl,
           max(case when lbl < old then 1 else 0 end) over () as chg
    from (
      select e.dst as v,
             min(s.lbl) as lbl,
             min(s.lbl) filter (where e.own = 1) as old
      from st s join bsymw e on e.src = s.v
      where s.chg = 1
      group by e.dst
    )
  )
  select v, min(lbl) as comp from st group by v
),
ecomp as (
  select se.src, se.dst, c.comp
  from se join bcc c on c.v = 'h:' || se.src
),
e_c as (select comp, count(*) as e_c from ecomp group by comp),
ind as (select dst, comp, count(*) as ind from ecomp group by dst, comp),
outd as (select src, comp, count(*) as outd from ecomp group by src, comp),
a_c as (select comp, count(*) as a_c from ind group by comp),
h_c as (select comp, count(*) as h_c from outd group by comp),
n_a as (select count(*) as n_a from ind),
n_h as (select count(*) as n_h from outd),
ascore as (
  select i.dst as url, (a.a_c * i.ind) / (t.n_a * s.e_c) as authority
  from ind i join a_c a using (comp) join e_c s using (comp) cross join n_a t
),
hscore as (
  select o.src as url, (h.h_c * o.outd) / (t.n_h * s.e_c) as hub
  from outd o join h_c h using (comp) join e_c s using (comp) cross join n_h t
)
select v.url,
       coalesce(h.hub, 0.0) as hub,
       coalesce(a.authority, 0.0) as authority
from vertices v
left join hscore h on h.url = v.url
left join ascore a on a.url = v.url"""


# ---------------------------------------------------------------------------
# batched topic-sensitive PageRank — graph/topics.py (Haveliwala 2002)
# ---------------------------------------------------------------------------


def sql_pagerank_topics(
    topics: dict[str, str],
    alpha: float = 0.85,
    iterations: int = 15,
    round_digits: int = 6,
) -> str:
    """Oracle twin of graph/topics.py::pagerank_topics — k INDEPENDENT
    fixed-iteration personalized PageRanks (epsilon=0 so the recursion
    runs exactly `iterations` rounds, matching the engine's fixed-count
    batched loop), unioned with a literal topic column. The engine
    batches the k vectors through one edge-scan per iteration; the
    numbers are identical to k separate runs because the per-topic
    update never reads another topic's column (pytest-asserted), so k
    separate recursive chains are the honest SQL expression."""
    chains = []
    selects = []
    for idx, (name, pred) in enumerate(topics.items()):
        sfx = f"_t{idx}"
        chains.append(
            _pagerank_cte(alpha, 0.0, iterations, pred, suffix=sfx)
        )
        selects.append(
            f"select '{name}' as topic, url, round(x, {round_digits}) as rank "
            f"from pr{sfx}"
        )
    return ",".join(chains) + "\n" + "\nunion all\n".join(selects)


def sql_spam_mass(
    trusted_pred: str,
    alpha: float = 0.85,
    iterations: int = 15,
    round_digits: int = 6,
) -> str:
    """Oracle twin of graph/topics.py::spam_mass — plain PageRank and
    TrustRank as two independent epsilon=0 fixed-iteration chains, then
    m = (r6 - t6) / r6 computed FROM the 6dp-rounded values (the
    granularity at which the trajectories are verified engine-
    identical); r6 = 0 yields NULL like the engine's WHEN guard."""
    c0 = _pagerank_cte(alpha, 0.0, iterations, None, suffix="_sm0")
    c1 = _pagerank_cte(alpha, 0.0, iterations, trusted_pred, suffix="_sm1")
    d = round_digits
    return (
        c0
        + ","
        + c1
        + f"""
select b.url,
       round(b.x, {d}) as rank,
       round(t.x, {d}) as trust,
       case when round(b.x, {d}) > 0
            then round((round(b.x, {d}) - round(t.x, {d})) / round(b.x, {d}), {d})
       end as spam_mass
from pr_sm0 b join pr_sm1 t on t.url = b.url"""
    )


# ---------------------------------------------------------------------------
# Louvain local-moving pass — graph/louvain.py (Blondel et al. 2008)
# ---------------------------------------------------------------------------


def sql_louvain(rounds: int = 6) -> str:
    """Exact replay of the engine's parity-gated synchronous Louvain
    phase-1 (graph/louvain.py): vertices numbered by url-sort rank
    (row_number over url — identical to the engine's distributed rank
    pass), integer gains m2*kin - k*(tot - [own]k), strict-improvement
    moves with min-label ties, `rounds` generated CTE blocks (the same
    fixed-round-replay pattern as the walks oracle). DuckDB's sum()
    returns HUGEINT so the gain arithmetic is exact; the engine's int64
    matches wherever it doesn't overflow (contract scales are far
    below the ~2^63 product bound).

    Multi-referenced CTEs are AS MATERIALIZED: unlike the linear
    pagerank/kcore chains (one reference per level), each lab_{{r}} is
    referenced 4x, so DuckDB 1.0's default inlining would expand the
    base scan 4^rounds times and exhaust file descriptors."""
    parts = [_LOUVAIN_BASE, "\nlab_0 as materialized (select v, v as lbl from rid)"]
    parts += _louvain_round_blocks("", "symw2", "ldeg", "lm2", rounds)
    final = f""",
lrep as (
  select l.lbl, min(r.url) as community
  from lab_{rounds} l join rid r on r.v = l.v group by l.lbl
)
select r.url, p.community
from lab_{rounds} l
join rid r on r.v = l.v
join lrep p on p.lbl = l.lbl"""
    return ",".join(parts) + final


_LOUVAIN_BASE = """
rid as materialized (
  select url, row_number() over (order by url) - 1 as v from vertices
),
le as (
  select s.v as u, d.v as v2
  from edges e join rid s on s.url = e.src join rid d on d.url = e.dst
  where s.v <> d.v
),
symw2 as materialized (
  select u, v2 as v, count(*)::bigint as w
  from (select u, v2 from le union all select v2 as u, u as v2 from le)
  group by u, v2
),
ldeg as materialized (select u, sum(w) as k from symw2 group by u),
lm2 as materialized (select sum(w) as m2 from symw2)"""


def _louvain_round_blocks(
    X: str, sym: str, deg: str, m2: str, rounds: int
) -> list[str]:
    """CTE blocks for `rounds` local-moving rounds with name prefix X,
    from {X}lab_0 (must exist: (v, lbl)) to {X}lab_{rounds}. `sym` may
    carry diagonal rows (coarse self-loops): they feed `deg` but the
    `s.u <> s.v` filter keeps them out of every k_in, mirroring the
    engine's _move_rounds."""
    out = []
    for r in range(rounds):
        out.append(
            f"""
{X}tot_{r} as (
  select l.lbl as c, sum(d.k) as tot
  from {X}lab_{r} l join {deg} d on d.u = l.v group by l.lbl
),
{X}mv_{r} as materialized (
  select v as u, lbl as own from {X}lab_{r} where (v + {r}) % 2 = 0
),
{X}nb_{r} as (
  select s.u, m.own, l2.lbl as c, s.w
  from {sym} s join {X}mv_{r} m on m.u = s.u join {X}lab_{r} l2 on l2.v = s.v
  where s.u <> s.v
),
{X}ki_{r} as (
  select u, own, c, sum(w) as kin from (
    select u, own, c, w from {X}nb_{r}
    union all
    select u, own, own as c, 0::bigint as w from {X}mv_{r}
  ) group by u, own, c
),
{X}cd_{r} as materialized (
  select k.u, k.own, k.c,
         m2.m2 * k.kin
           - coalesce(d.k, 0)
             * (t.tot - case when k.c = k.own then coalesce(d.k, 0) else 0 end)
             as gain
  from {X}ki_{r} k
  join {X}tot_{r} t on t.c = k.c
  left join {deg} d on d.u = k.u
  cross join {m2} m2
),
{X}bg_{r} as (select u, max(gain) as bg from {X}cd_{r} group by u),
{X}pk_{r} as (
  select c.u, min(c.c) as bc, min(s.bg) as bg
  from {X}cd_{r} c join {X}bg_{r} s on s.u = c.u and c.gain = s.bg
  group by c.u
),
{X}sg_{r} as (select u, gain as sg from {X}cd_{r} where c = own),
{X}lab_{r + 1} as materialized (
  select l.v,
         case when p.bg > s.sg then p.bc else l.lbl end as lbl
  from {X}lab_{r} l
  left join {X}pk_{r} p on p.u = l.v
  left join {X}sg_{r} s on s.u = l.v
)"""
        )
    return out


def sql_leiden(rounds: int = 4, refine_rounds: int = 3) -> str:
    """Exact replay of graph/louvain.py::leiden_communities: the
    Louvain phase-1 blocks, then the SAME round template on the
    CONSTRAINED intra-community subgraph (edges whose endpoints share
    the phase-A label) from singletons, with the subgraph's own degrees
    and 2m. An all-cross-community phase-A partition leaves the
    refinement subgraph empty — every gain is then 0 and nothing moves,
    matching the engine's explicit skip."""
    parts = [_LOUVAIN_BASE, "\nlab_0 as materialized (select v, v as lbl from rid)"]
    parts += _louvain_round_blocks("", "symw2", "ldeg", "lm2", rounds)
    parts.append(
        f"""
lcons as materialized (select v, lbl as cons from lab_{rounds}),
rsym as materialized (
  select s.u, s.v, s.w from symw2 s
  join lcons a on a.v = s.u
  join lcons b on b.v = s.v
  where a.cons = b.cons
),
rdeg as materialized (select u, sum(w) as k from rsym group by u),
rm2 as materialized (select coalesce(sum(w), 0)::bigint as m2 from rsym),
rlab_0 as materialized (select v, v as lbl from rid)"""
    )
    parts += _louvain_round_blocks("r", "rsym", "rdeg", "rm2", refine_rounds)
    final = f""",
rrep as (
  select l.lbl, min(r.url) as community
  from rlab_{refine_rounds} l join rid r on r.v = l.v group by l.lbl
)
select r.url, p.community
from rlab_{refine_rounds} l
join rid r on r.v = l.v
join rrep p on p.lbl = l.lbl"""
    return ",".join(parts) + final


def sql_louvain_multilevel(rounds_per_level: int = 4, levels: int = 2) -> str:
    """Exact replay of graph/louvain.py::louvain_multilevel: phase-1
    local moves on url-sort-rank vertices, then `levels - 1` rounds of
    contract-and-repeat. The contraction relabels both endpoints of the
    symmetric weight table and sums — diagonal rows land at the
    standard 2x-intra self-loop weight and feed only the degree (the
    round template's u <> v filter keeps them out of k_in). Coarse
    vertex ids ARE the previous level's labels, so parity gates and
    min-label ties replay exactly; 2m is contraction-invariant."""
    parts = [_LOUVAIN_BASE]
    parts.append("\nl0lab_0 as materialized (select v, v as lbl from rid)")
    parts += _louvain_round_blocks("l0", "symw2", "ldeg", "lm2", rounds_per_level)
    R = rounds_per_level
    prev_sym, prev_deg = "symw2", "ldeg"
    for lvl in range(1, levels):
        P0, P1 = f"l{lvl - 1}", f"l{lvl}"
        parts.append(
            f"""
{P1}sym as materialized (
  select a.lbl as u, b.lbl as v, sum(w)::bigint as w
  from {prev_sym} s
  join {P0}lab_{R} a on a.v = s.u
  join {P0}lab_{R} b on b.v = s.v
  group by 1, 2
),
{P1}deg as materialized (select u, sum(w) as k from {P1}sym group by u),
{P1}lab_0 as materialized (select distinct lbl as v, lbl from {P0}lab_{R})"""
        )
        parts += _louvain_round_blocks(P1, f"{P1}sym", f"{P1}deg", "lm2", R)
        prev_sym, prev_deg = f"{P1}sym", f"{P1}deg"
    # compose original-vertex -> final label through the level chain
    parts.append(
        f"""
mlmap_0 as (select v, lbl from l0lab_{R})"""
    )
    for lvl in range(1, levels):
        parts.append(
            f"""
mlmap_{lvl} as (
  select m.v, l.lbl
  from mlmap_{lvl - 1} m join l{lvl}lab_{R} l on l.v = m.lbl
)"""
        )
    L = levels - 1
    final = f""",
mlrep as (
  select m.lbl, min(r.url) as community
  from mlmap_{L} m join rid r on r.v = m.v group by m.lbl
)
select r.url, p.community
from mlmap_{L} m
join rid r on r.v = m.v
join mlrep p on p.lbl = m.lbl"""
    return ",".join(parts) + final


# ---------------------------------------------------------------------------
# Coreness (full core decomposition) — graph/kcore.py::coreness
# ---------------------------------------------------------------------------


def sql_coreness(rounds: int = 30) -> str:
    """Exact replay of the engine's h-index fixpoint (Lu et al. 2016):
    c_0 = simple undirected degree, c_{t+1}(v) = h-index of neighbor
    values, `rounds` generated CTE blocks. Rounds at or past the
    fixpoint are no-ops, so any `rounds` >= the engine's iteration
    count (same argument both sides) reproduces the engine bit-exactly
    — converged or not, both run the identical update. Each cor_{r} is
    referenced twice (the h-index scan and the carry-forward), so the
    blocks are AS MATERIALIZED against DuckDB 1.0's default inlining
    (see sql_louvain). The h-index max(least(rn, c)) is invariant to
    the rank order among equal values, so no tie-break key is needed."""
    parts = [
        """
cund as (
  select distinct least(src, dst) as a, greatest(src, dst) as b
  from edges where src <> dst
),
cusym as materialized (
  select a as v, b as w from cund union all select b as v, a as w from cund
),
cor_0 as materialized (select v, count(*)::bigint as c from cusym group by v)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""
ch_{r} as (
  select v, max(least(rn, cw)) as h from (
    select s.v, l.c as cw,
           row_number() over (partition by s.v order by l.c desc) as rn
    from cusym s join cor_{r} l on l.v = s.w
  ) group by v
),
cor_{r + 1} as materialized (
  select s.v, h.h as c from cor_{r} s join ch_{r} h on h.v = s.v
)"""
        )
    final = f""",
cfin as (
  select vt.url, coalesce(c.c, 0)::bigint as coreness
  from vertices vt left join cor_{rounds} c on c.v = vt.url
)
select url, coreness from cfin"""
    return ",".join(parts) + final


# ---------------------------------------------------------------------------
# Bow-tie decomposition — graph/bowtie.py (Broder et al. 2000)
# ---------------------------------------------------------------------------


def sql_bowtie() -> str:
    """Bow-tie regions by definition over the full reachability closure
    (the same recursive UNION-distinct as sql_scc — quadratic, fine at
    oracle scale; the engine's four frontier sweeps are the scale
    path). CORE = largest SCC (ties by min component label); IN/OUT by
    closure membership against CORE; TUBE/TENDRILs by closure against
    IN and OUT restricted to the remainder."""
    return """
reach as (
  with recursive r(a, b) as (
    select src, dst from edges where src <> dst
    union
    select r.a, e.dst from r join edges e on e.src = r.b
  )
  select a, b from r
),
sccm as (
  select v, min(w) as component from (
    select url as v, url as w from vertices
    union all
    select r1.a as v, r1.b as w
    from reach r1 join reach r2 on r2.a = r1.b and r2.b = r1.a
  ) group by v
),
core_pick as (
  select component from sccm
  group by component order by count(*) desc, component asc limit 1
),
core_v as (
  select v as url from sccm
  where component = (select component from core_pick)
),
out_v as (
  select distinct r.b as url from reach r join core_v c on r.a = c.url
  where r.b not in (select url from core_v)
),
in_v as (
  select distinct r.a as url from reach r join core_v c on r.b = c.url
  where r.a not in (select url from core_v)
),
rest as (
  select url from vertices
  except select url from core_v
  except select url from out_v
  except select url from in_v
),
from_in as (
  select distinct t.url
  from rest t join reach r on r.b = t.url join in_v i on r.a = i.url
),
to_out as (
  select distinct t.url
  from rest t join reach r on r.a = t.url join out_v o on r.b = o.url
)
select v.url,
  case when v.url in (select url from core_v) then 'CORE'
       when v.url in (select url from in_v) then 'IN'
       when v.url in (select url from out_v) then 'OUT'
       when v.url in (select url from from_in)
            and v.url in (select url from to_out) then 'TUBE'
       when v.url in (select url from from_in) then 'TENDRIL_IN'
       when v.url in (select url from to_out) then 'TENDRIL_OUT'
       else 'DISC' end as region
from vertices v"""


def sql_double_sweep(source: str) -> str:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib 2009)
    over the symmetrized graph: BFS from `source`, re-BFS from the
    farthest reached vertex (max distance, min-url tie-break), report
    that sweep's eccentricity. Two seeded copies of the
    sql_bfs_distances recursion with disjoint CTE names; the second
    seed is a scalar subquery over the first sweep."""
    def sweep(tag: str, seed_pred: str) -> str:
        return f"""
{tag} as (
  with recursive st(v, d, chg) as (
    select url, 0::bigint, 1 from vertices where {seed_pred}
    union all
    select v, d,
           max(case when old is null or d < old then 1 else 0 end) over () as chg
    from (
      select e.dst as v,
             min(s.d + e.w) as d,
             min(s.d) filter (where e.w = 0) as old
      from st s join dsymw e on e.src = s.v
      where s.chg = 1
      group by e.dst
    )
  )
  select v as url, min(d)::bigint as distance from st group by v
)"""

    return f"""
dsymw as (
  select src, dst, 1 as w from sym
  union all
  select url, url, 0 from vertices
),{sweep("ds1", f"url = '{source}'")},
dpk as (
  select url from ds1 order by distance desc, url limit 1
),{sweep("ds2", "url = (select url from dpk)")}
select '{source}' as seed,
       (select url from dpk) as sweep_peak,
       url as far_url,
       distance as diameter_lb
from ds2 order by distance desc, url limit 1"""


# ---------------------------------------------------------------------------
# Trussness (full truss decomposition) — graph/triangles.py::trussness
# ---------------------------------------------------------------------------


def sql_trussness(rounds: int = 30) -> str:
    """Exact replay of the engine's triangle h-index fixpoint
    (Sariyuce, Seshadhri & Pinar, PVLDB 2018): rho_0 = per-edge
    triangle support, rho_{t+1}(e) = h-index of {min of the other two
    edges' values} over e's triangles, `rounds` generated CTE blocks.
    Rounds at or past the fixpoint are no-ops, so any `rounds` >= the
    engine's iteration count (same argument both sides) reproduces the
    engine bit-exactly. Triangles are enumerated once (x < y < z via
    three self-joins on the canonical undirected edge list) and frozen
    into a 3-rows-per-triangle incidence table, exactly like the
    engine. Each trho_{r} is referenced three times (two message joins
    and the carry-forward), so the blocks are AS MATERIALIZED against
    DuckDB's default inlining (see sql_coreness). Output trussness =
    rho + 2 (every edge is a 2-truss)."""
    parts = [
        """
tund as (select distinct least(src, dst) as a, greatest(src, dst) as b
         from edges where src <> dst),
ttri as materialized (
  select e1.a as x, e1.b as y, e2.b as z
  from tund e1
  join tund e2 on e2.a = e1.a and e2.b > e1.b
  join tund e3 on e3.a = e1.b and e3.b = e2.b
),
tinc as materialized (
  select x as ea, y as eb, x as fa, z as fb, y as ha, z as hb from ttri
  union all
  select x, z, x, y, y, z from ttri
  union all
  select y, z, x, y, x, z from ttri
),
trho_0 as materialized (
  select u.a, u.b, coalesce(s.c, 0)::bigint as c
  from tund u left join (
    select ea, eb, count(*)::bigint as c from tinc group by ea, eb
  ) s on s.ea = u.a and s.eb = u.b
)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""
th_{r} as (
  select ea, eb, max(least(rn, m)) as h from (
    select i.ea, i.eb, least(f.c, g.c) as m,
           row_number() over (
             partition by i.ea, i.eb order by least(f.c, g.c) desc
           ) as rn
    from tinc i
    join trho_{r} f on f.a = i.fa and f.b = i.fb
    join trho_{r} g on g.a = i.ha and g.b = i.hb
  ) group by ea, eb
),
trho_{r + 1} as materialized (
  select s.a, s.b, coalesce(h.h, 0)::bigint as c
  from trho_{r} s left join th_{r} h on h.ea = s.a and h.eb = s.b
)"""
        )
    final = f"""
select a, b, (c + 2)::bigint as trussness from trho_{rounds}"""
    return ",".join(parts) + final
