"""Workload inputs and the timed pipeline calls.

Inputs are rendered by ``graph_embeddings_spark.corpus`` from the seed alone
and cached per (workload, size, seed), so a rerun with the same seed reads
identical files and the rendering never falls inside a timed region. The
program under test only sees the written files: a parquet page table for
``web_pages`` and an N-Triples file for ``rdf_canon``.
"""

from __future__ import annotations

import itertools
import os
from collections import defaultdict
from dataclasses import astuple, dataclass

from graph_embeddings_spark import corpus
from graph_embeddings_spark.config import (
    OptConfig, OutputConfig, PcaConfig, PipelineConfig, SimilarityGroup,
)
from graph_embeddings_spark.functions.similarity import make_metric, ngram_profile_py

# Subject/predicate/object URIs of the N-Triples input.
NS = "http://kg.example.test/"
NAME_PRED = NS + "name"


@dataclass(frozen=True)
class Size:
    web_pages: int       # pages in the web_pages table
    web_epochs: int
    rdf_entities: int    # entities of the rdf_canon world, one name statement each
    rdf_facts: int       # distinct fact statements of the rdf_canon input
    rdf_epochs: int


SIZES = {
    "full": Size(web_pages=600, web_epochs=1, rdf_entities=600, rdf_facts=2900, rdf_epochs=1),
    # self-test size: same code path, seconds instead of tens of seconds
    "tiny": Size(web_pages=60, web_epochs=1, rdf_entities=120, rdf_facts=190, rdf_epochs=1),
}


def web_config(size: Size) -> PipelineConfig:
    # no similarity groups: canonicalization does not run on this workload
    return PipelineConfig(
        opt=OptConfig(maxiter=size.web_epochs, tolerance=0.0),
        output=OutputConfig(uri=[], blank=[], literal=[]),
    )


def rdf_config(size: Size, train: bool) -> PipelineConfig:
    sim = [
        # entity names: the world's numbered "Jr"/"III"/"... 3" variants are
        # near-duplicates, found by the MinHash-LSH path
        SimilarityGroup(NAME_PRED, NAME_PRED, method="ngram_jaccard", threshold=0.7),
        SimilarityGroup(NS + "founded_year", NS + "founded_year", method="numeric", threshold=0.7),
        SimilarityGroup(NS + "born_on", NS + "born_on", method="date_days", threshold=0.7,
                        pattern="yyyy-MM-dd"),
    ]
    return PipelineConfig(
        similarity=sim,
        opt=OptConfig(maxiter=size.rdf_epochs, tolerance=0.0),
        output=OutputConfig(uri=[], blank=[], literal=[]),
        pca=PcaConfig(variance=0.9) if train else None,
    )


def web_world(seed: int) -> corpus.World:
    return corpus.build_world(seed, 120)


def rdf_world(seed: int, size: Size) -> corpus.World:
    return corpus.build_world(seed, size.rdf_entities)


def exact_pairs(labels: list[str], group: SimilarityGroup) -> set[tuple[str, str]]:
    """Every unordered pair of distinct labels that the reference scalar
    metric scores at or above the group's threshold: the all-pairs compare
    that canonicalization's blocking stands in for."""
    metric = make_metric(
        group.method, ngram=group.ngram, smooth=group.smooth,
        distance=group.threshold_distance, pattern=group.pattern, time=group.time,
    )
    labels = sorted(set(labels))
    if group.method == "ngram_jaccard":
        # distinct labels scoring above 0 share a shingle, so skipping the
        # pairs that share none loses nothing
        by_shingle = defaultdict(list)
        for i, label in enumerate(labels):
            for sh in set(ngram_profile_py(label, group.ngram)):
                by_shingle[sh].append(i)
        cands = {p for ids in by_shingle.values() for p in itertools.combinations(ids, 2)}
    else:
        cands = itertools.combinations(range(len(labels)), 2)
    return {
        (labels[i], labels[j]) for i, j in cands
        if metric(labels[i], labels[j]) >= group.threshold
    }


def write_web_pages(path: str, seed: int, size: Size) -> int:
    """The page table `corpus.web_pages_df` describes, rendered in this
    process row for row (same `render_page` calls, same ~1% older duplicates).
    Returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    world = web_world(seed)
    rows = []
    for pid in range(size.web_pages):
        rows.append(corpus.render_page(world, pid, 0))
        if corpus._is_dup_page(world, pid):
            rows.append(corpus.render_page(world, pid, 1))
    url, ts, html, text, lang = zip(*rows)
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array([t * 1_000_000 for t in ts], pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    pq.write_table(table, path)
    return len(rows)


def expected_facts(world: corpus.World, n_pages: int) -> set[tuple[str, str, str]]:
    """Distinct (subj, pred, obj) ground truth of `corpus.expected_triples_df`."""
    return {
        (s, p, o)
        for pid in range(n_pages)
        for _url, s, p, o, _kind in corpus.expected_triples_for_page(world, pid)
    }


def write_ntriples(path: str, seed: int, size: Size) -> int:
    """The fact triples of `corpus.expected_triples_df` as URIs and
    literals, plus one `name` literal per entity. Pages are read in order
    until `size.rdf_facts` distinct facts are written, so the statement
    count is the same for every seed. Returns the statement count."""
    world = rdf_world(seed, size)
    seen = set()
    with open(path, "w", encoding="utf-8") as f:
        for eid, name in zip(world.entity_ids, world.names):
            f.write(f'<{NS}{eid}> <{NAME_PRED}> "{name}" .\n')
        for pid in itertools.count():
            for _url, s, p, o, kind in corpus.expected_triples_for_page(world, pid):
                if len(seen) == size.rdf_facts:
                    return len(world.entity_ids) + len(seen)
                if (s, p, o) in seen:
                    continue
                seen.add((s, p, o))
                obj = f"<{NS}{o}>" if kind == "entity" else f'"{o}"'
                f.write(f"<{NS}{s}> <{NS}{p}> {obj} .\n")


def input_key(workload: str, seed: int, size_name: str) -> str:
    """Names one input: the sizes are part of it, so editing a size never
    reuses inputs rendered at the old one."""
    dims = "-".join(str(v) for v in astuple(SIZES[size_name]))
    return f"{workload}-s{seed}-{dims}"


def ensure_inputs(cache_dir: str, workload: str, seed: int, size_name: str) -> tuple[str, int]:
    """Input file path and its row count, rendered on first use of the seed."""
    size = SIZES[size_name]
    d = os.path.join(cache_dir, input_key(workload, seed, size_name))
    path = os.path.join(d, "pages.parquet" if workload == "web_pages" else "graph.nt")
    count_file = os.path.join(d, "rows")
    if not os.path.exists(count_file):
        os.makedirs(d, exist_ok=True)
        write = write_web_pages if workload == "web_pages" else write_ntriples
        rows = write(path, seed, size)
        with open(count_file, "w") as f:
            f.write(str(rows))
    with open(count_file) as f:
        return path, int(f.read())
