"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of (seed, size): the same pair always
yields the same rows, written once as parquet under the cache directory
together with the answers of the `oracle.numpy_ref` oracles. Parquet
stands in for the engine's Iceberg tables (no Iceberg runtime is
installed). Generation and the oracles run in their own process
(`python3 perfbench/gen.py ...`), outside every timed region, so their
memory never shows in the benchmark's peak-RSS metric.

Shapes (why each workload looks the way it does is in README.md):
  * pages — Common-Crawl-style `pages` table shaped like
    fixtures/pages.py: per page, Zipf-like out-degree article links plus
    one hub link the drop-regex removes, and a dangling tail; plus
    archive chains, separate components with long tendrils.
  * weblike — string edge table of many sites whose pages link mostly
    inside their own site, with a thin dangling tail: the random surfer
    mixes slowly, so PageRank needs 6 iterations to reach eps = 1e-6
    (a hashed-uniform graph converges in 2).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (workload, size) -> generator parameters. "ref" is what the benchmark
# runs; "tiny" is for the benchmark's own tests.
SIZES: dict[str, dict[str, dict[str, int]]] = {
    "pages_pagerank_ref": {
        "ref": {"n_pages": 50_000, "n_chains": 40, "chain_len": 8},
        "tiny": {"n_pages": 400, "n_chains": 3, "chain_len": 6},
    },
    "pagerank_ckpt_resume": {
        "ref": {"n_sites": 600, "pages_per_site": 100},
        "tiny": {"n_sites": 60, "pages_per_site": 20},
    },
}

N_FILES = 4  # parquet part files per table: one input split per core
# pagerank_ckpt_resume stops its first run after this many iterations
CRASH_AFTER = 2
# Synchronous LPA oscillates on paths (the archive chains), so it would
# always run to the library's 20-round cap; engine and oracle stop at 4.
LPA_MAX_ITERATIONS = 4
EDGE_SCHEMA = pa.schema([("src", pa.string()), ("dst", pa.string())])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic bytes: fixed part count, no timestamps in metadata."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:02d}.parquet"),
            compression="snappy",
        )


def make_pages(
    seed: int, n_pages: int, n_chains: int, chain_len: int
) -> tuple[pa.Table, list[tuple[str, str]]]:
    """`pages` rows plus the planned (src, dst) link of every <a> tag, in
    document order — extraction must yield exactly these.

    `n_pages` articles have Zipf-like out-degree towards popular articles;
    every page also links one topic hub, which the drop-regex removes,
    and the last tenth link nowhere else (the dangling tail). Besides,
    `n_chains` archives of `chain_len` pages link "older posts" in a
    chain and are linked from nowhere: separate components with long
    tendrils. With that many, one almost surely has its minimum id at an
    end, so min-label CC runs chain_len rounds on every seed."""
    rng = _rng(seed, 1)
    urls = [f"www.example.com/article-{i}" for i in range(n_pages)]
    hubs = [f"www.example.com/topic/{k}" for k in range(max(2, n_pages // 20))]
    # Zipf-like out-degree (Pareto tail, capped)
    degree = np.minimum(np.floor((rng.pareto(1.6, n_pages) + 1.0) * 3.0), 400)
    degree[int(n_pages * 0.9):] = 0
    degree = degree.astype(np.int64)
    # popular targets: low article ids draw most in-links
    targets = np.floor(n_pages * rng.random(int(degree.sum())) ** 3).astype(np.int64)
    outlinks = []
    at = 0
    for d in degree.tolist():
        outlinks.append([urls[t] for t in targets[at : at + d]])
        at += d
    for k in range(n_chains):
        chain = [f"www.example.com/archive-{k}-{j}" for j in range(chain_len)]
        urls += chain
        outlinks += [[nxt] for nxt in chain[1:]] + [[]]
    n_tokens = rng.integers(5, 15, len(urls))
    tokens = rng.integers(0, 1000, int(n_tokens.sum()))

    base_ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    html, text, edges = [], [], []
    k_at = 0
    for i, url in enumerate(urls):
        dsts = outlinks[i] + [hubs[i % len(hubs)]]
        body = " ".join(f"tok{t}" for t in tokens[k_at : k_at + n_tokens[i]])
        k_at += n_tokens[i]
        anchors = "".join(f'<a href="{d}">link {j}</a>\n' for j, d in enumerate(dsts))
        html.append(
            f"<html><head><title>page {i}</title></head><body>\n"
            f"<p>{body}</p>\n{anchors}</body></html>".encode()
        )
        text.append(body)
        edges.extend((url, d) for d in dsts)
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(
                [base_ts + datetime.timedelta(seconds=i) for i in range(len(urls))],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(html, pa.binary()),
            "text": text,
            "lang": [("en", "es", "de", "zh")[i % 4] for i in range(len(urls))],
        }
    )
    return table, edges


def make_weblike(seed: int, n_sites: int, pages_per_site: int) -> list[tuple[str, str]]:
    """Directed string edges, sorted by src. Site sizes are Zipf, scaled to
    about `pages_per_site` on average; 70% of links stay inside the site, the rest go to
    a popular site, and inside a site links favour its popular pages.
    Only 4% of pages are dangling: the dangling mass is what the random
    surfer re-spreads uniformly every step, so a thin dangling tail keeps
    the walk inside the link structure and PageRank needs 6 iterations
    to reach eps = 1e-6 (a 1% tail needs 10)."""
    rng = _rng(seed, 2)
    raw = rng.pareto(2.0, n_sites) + 1.0
    sizes = np.maximum(2, np.floor(raw * pages_per_site * n_sites / raw.sum()))
    sizes = sizes.astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    n = int(offsets[-1])
    site_of = np.repeat(np.arange(n_sites), sizes)
    local = np.arange(n) - offsets[site_of]
    names = [f"s{s}.example.org/p{j}" for s, j in zip(site_of, local)]

    degree = np.minimum(np.floor((rng.pareto(1.8, n) + 1.0) * 2.0), 60).astype(np.int64)
    degree[rng.random(n) < 0.04] = 0
    src = np.repeat(np.arange(n), degree)
    m = len(src)
    popular_site = np.minimum(np.floor(n_sites * rng.random(m) ** 2), n_sites - 1)
    tsite = np.where(rng.random(m) < 0.3, popular_site.astype(np.int64), site_of[src])
    dst = offsets[tsite] + np.floor(sizes[tsite] * rng.random(m) ** 2).astype(np.int64)
    edges = [(names[s], names[d]) for s, d in zip(src.tolist(), dst.tolist())]
    edges.sort()
    return edges


def _edges_table(edges: list[tuple[str, str]]) -> pa.Table:
    return pa.table(
        {"src": [s for s, _ in edges], "dst": [d for _, d in edges]},
        schema=EDGE_SCHEMA,
    )


def _write_ranks(ranks: dict[str, float], out: str) -> None:
    _write_parquet(
        pa.table({"url": list(ranks), "x": list(ranks.values())}),
        os.path.join(out, "expected_ranks"),
    )


def generate(workload: str, seed: int, size: str, out: str) -> None:
    """Write the workload's input tables and oracle answers under `out`.
    `_done.json` is written last; a directory without it is incomplete."""
    from pagerankproject_spark.oracle import numpy_ref

    params = SIZES[workload][size]
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    facts: dict = {"workload": workload, "seed": seed, "size": size, **params}
    if workload == "pages_pagerank_ref":
        table, links = make_pages(seed, **params)
        _write_parquet(table, os.path.join(out, "pages"))
        ranks, residuals = numpy_ref.pagerank_by_url(links)
        _write_ranks(ranks, out)
        # the graph algorithms see the links that survive the drop-regex
        edges = [
            (s, d) for s, d in links
            if not (numpy_ref.URL_DROP_REGEX.match(s) or numpy_ref.URL_DROP_REGEX.match(d))
        ]
        cc = numpy_ref.connected_components(edges)
        lpa = numpy_ref.label_propagation(edges, max_iterations=LPA_MAX_ITERATIONS)
        per_edge, total = numpy_ref.triangle_counts(edges)
        _write_parquet(
            pa.table({"url": list(cc), "component": list(cc.values())}),
            os.path.join(out, "expected_cc"),
        )
        _write_parquet(
            pa.table({"url": list(lpa), "label": list(lpa.values())}),
            os.path.join(out, "expected_lpa"),
        )
        _write_parquet(
            pa.table(
                {
                    "a": [a for a, _ in per_edge],
                    "b": [b for _, b in per_edge],
                    "triangles": pa.array(list(per_edge.values()), pa.int64()),
                }
            ),
            os.path.join(out, "expected_triangles"),
        )
        facts.update(
            links=len(links), edges=len(edges), oracle_iterations=len(residuals),
            components=len(set(cc.values())), triangles=total,
        )
    elif workload == "pagerank_ckpt_resume":
        edges = make_weblike(seed, **params)
        _write_parquet(_edges_table(edges), os.path.join(out, "edges"))
        ranks, residuals = numpy_ref.pagerank_by_url(edges)
        _write_ranks(ranks, out)
        facts.update(edges=len(edges), oracle_iterations=len(residuals))
    else:
        raise ValueError(f"unknown workload: {workload}")
    with open(os.path.join(out, "_done.json"), "w") as f:
        json.dump(facts, f)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="ref", choices=["ref", "tiny"])
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    generate(args.workload, args.seed, args.size, args.out)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
