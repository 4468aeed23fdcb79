"""Workload definitions and the write-once corpus cache.

Each workload reads a seeded synthetic crawl made by
`datagen.write_corpus_parquet`. A corpus is generated once, in a child
process (so neither its time nor its memory lands in a measured window),
and cached under ``perfbench/.work/corpus`` with a ``_SUCCESS`` marker
written only after every file has landed. The cache key is the datagen
fingerprint from ``bench/pipeline_job.py`` plus page count, seed and
entity-universe size, so a datagen change can never reuse a stale corpus.

    python3 perfbench/corpus.py <out_dir> <n_pages> <seed> <n_entities|0>

generates one corpus directory (the child-process entry point).
"""

from __future__ import annotations

import pathlib
import subprocess
import sys
from dataclasses import dataclass

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"


@dataclass(frozen=True)
class Workload:
    """One named benchmark input and the job run on it.

    `n_entities=None` keeps datagen's default universe (it grows with the
    page count); a number sets an entity-dense universe of that size.
    `pipeline_kw` are the `build_triples` arguments; `count_entities` adds
    `entities.count()` (the merge groupBy) to the job; `cli` runs the CLI's
    ``-o db`` job instead of `build_triples` + counts.
    """

    name: str
    n_pages: int
    n_entities: int | None = None
    pipeline_kw: tuple = ()
    count_entities: bool = False
    cli: bool = False


# Sizes are set by the time budget of a full run set on a 4-core box (one
# run: ~13 s of session set-up, a cold job, a warm-up job, the warm jobs,
# the check) and by generation time, since every run may bring a new seed
# and so a new corpus: datagen's handcrafted-name phase takes ~1 s up to
# ~500 entities and 25-45 s from ~700 on. Both corpora have the same pages, so extraction
# cost is alike; the dense universe has 2.5x the entities of the default
# one (200 at this page count).
N_PAGES = 8000
# the forced web-scale plan of bench/pipeline_job.py's distributed mode:
# distributed MinHash-LSH linking with its default "fast" hash family,
# alternating-star CC, dim join and (url, canon) distinct left to AQE
_DISTRIBUTED = (
    ("linking_hash_family", "fast"),
    ("max_driver_linking", 0),
    ("cc_small_graph_threshold", 0),
    ("surface_broadcast", "aqe"),
)

WORKLOADS = {
    w.name: w
    for w in (
        # every build_triples default, as the CLI job runs it
        Workload("crawl_adaptive", N_PAGES),
        Workload(
            "entity_dense_distributed",
            N_PAGES,
            n_entities=500,
            pipeline_kw=_DISTRIBUTED,
            count_entities=True,
        ),
        Workload("cli_materialize", N_PAGES, cli=True),
    )
}


def _universe_kw(n_entities: int | None) -> dict[str, int]:
    """Split an entity count over persons, companies and institutions in
    datagen's default proportions (1/150, 1/125 and 1/300 per page)."""
    if n_entities is None:
        return {}
    n_person = n_entities * 10 // 27
    n_company = n_entities * 12 // 27
    return {
        "n_person": n_person,
        "n_company": n_company,
        "n_inst": n_entities - n_person - n_company,
    }


def corpus_dir(wl: Workload, seed: int) -> pathlib.Path:
    """Path of the workload's corpus, generating it on first use."""
    if str(ROOT / "bench") not in sys.path:
        sys.path.insert(0, str(ROOT / "bench"))
    from pipeline_job import _datagen_fingerprint

    universe = "default" if wl.n_entities is None else str(wl.n_entities)
    out = WORK / "corpus" / (
        f"kg_corpus_n{wl.n_pages}_s{seed}_u{universe}_v{_datagen_fingerprint()}"
    )
    if not (out / "_SUCCESS").exists():
        subprocess.run(
            [
                sys.executable,
                str(HERE / "corpus.py"),
                str(out),
                str(wl.n_pages),
                str(seed),
                str(wl.n_entities or 0),
            ],
            check=True,
            stdout=sys.stderr,
        )
    return out


def _generate(out: pathlib.Path, n_pages: int, seed: int, n_entities: int) -> None:
    import shutil

    from ocds_entity_extract_spark.datagen import write_corpus_parquet

    shutil.rmtree(out, ignore_errors=True)
    write_corpus_parquet(
        str(out), n_pages, seed=seed, **_universe_kw(n_entities or None)
    )
    (out / "_SUCCESS").touch()


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    _out, _n, _seed, _ents = sys.argv[1:5]
    _generate(pathlib.Path(_out), int(_n), int(_seed), int(_ents))
