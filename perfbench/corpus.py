"""corpus: the maintained corpus state engines and the cold dedup pipeline.

Inputs (from the seed, before any timing): N_DOCS generated documents with
the sf0.1 table's profile (gen.py) as parquet, cut into N_DUMPS dumps of
about 150 documents in doc_id order.

1. Setup, SETUPS times: a fresh ``MinHashLshIndex`` and a fresh
   ``IncrementalCurationManifest`` initialised with the benchmark slice
   (doc_id % 100 < 2), as the px16 registry entry does. ``setup_s`` is
   the median.
2. Catch-up, on the last state: the first BACKLOG dumps in one call to
   each engine — ``MinHashLshIndex.ingest`` of their union and
   ``IncrementalCurationManifest.ingest_many``. It warms the ingest path
   up before the timed phase; its rate (documents per second) is printed
   as context. ``state_mb`` is the index plus the manifest afterwards.
3. Timed phase: the operations of PLAN, the same on every run — dump
   ingests (index, then manifest; ``op_p50_s``) and reads that collect
   the maintained views: pairs, manifest, per-language and per-source
   stats (``read_pass_s``).
4. Traced runs only: one cold pipeline — dd4 → dd7 → px11 from the
   registry after ``clear_dedup_cache()`` and ``release_ann_cache()`` —
   for the operators and sources layers. It is left out of untraced runs:
   at about 9 s a pass it does not fit the per-run time beside the
   ingest.
5. Checks against the DuckDB oracles in ``ORACLES``: every view of the
   last read over the documents ingested so far — the pairs against
   dd4, the manifest against px11, the two stats views against px11's
   curated corpus grouped by language and by source; in traced runs
   dd4 and px11 over the whole table, and dd7 against the connected
   components of dd4's oracle pairs (its own recursive oracle takes
   25 s at 1 000 documents).
"""

from __future__ import annotations

import checks
import gen
from procstat import dir_bytes, dir_files
from spans import median

N_DOCS = 300
N_DUMPS = 2
SETUPS = 3
BACKLOG = 1
# one timed dump: a second one (~12 s) does not fit the per-run time
PLAN = ["ingest", "read", "read", "read"]
PIPELINE = ["dd4_minhash_lsh_pairs", "dd7_dedup_groups", "px11_training_manifest"]


def state_oracles(oracles: dict[str, str], upto: int) -> dict[str, tuple[str, str]]:
    """View -> (oracle SQL, filter on documents): what each maintained view
    equals once the documents below ``upto`` are ingested. The index's
    pairs are dd4 over them; the manifest is px11 over them plus the
    frozen benchmark slice, and the stats views are px11's curated corpus
    over the same documents, grouped."""
    in_state = f"doc_id < {upto}"
    with_bench = f"{in_state} OR doc_id % 100 < 2"
    px11 = oracles["px11_training_manifest"]
    return {"pairs": (oracles["dd4_minhash_lsh_pairs"], in_state),
            "manifest": (px11, with_bench),
            "stats_by_lang": (checks.curated_stats_sql(px11, "lang"), with_bench),
            "stats_by_source": (checks.curated_stats_sql(px11, "source"), with_bench)}


def run(r) -> dict:
    from pyspark.sql import functions as F

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import (
        ORACLES,
        QUERIES,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_auto import (
        release_ann_cache,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        clear_dedup_cache,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        IncrementalCurationManifest,
    )

    sf_dir = r.path("sf")
    documents = gen.write_documents(gen.corpus_documents(r.seed, N_DOCS), sf_dir)
    cuts = gen.dump_cuts(r.seed, 0, N_DOCS, N_DUMPS)
    docs = r.spark.read.parquet(documents)
    doc_id = F.col("doc_id")

    def dump(i: int, j: int | None = None):
        """Dumps i..j-1 (one dump when j is None)."""
        return docs.filter((doc_id >= cuts[i]) & (doc_id < cuts[j or i + 1]))

    def train(df):
        return df.filter(doc_id % 100 >= 2)

    states = []

    def setup(k: int):
        index = MinHashLshIndex(r.spark, r.path(f"index{k}"))
        manifest = IncrementalCurationManifest(r.spark, r.path(f"manifest{k}"))
        manifest.initialize(docs.filter(doc_id % 100 < 2))
        return index, manifest

    for k in range(SETUPS):
        states.append(r.op("setup", setup, k)[1])
    index, manifest = states[-1]
    index_dir, manifest_dir = r.path(f"index{SETUPS - 1}"), r.path(f"manifest{SETUPS - 1}")

    # -- catch-up -----------------------------------------------------------------
    def catch_up():
        index.ingest(dump(0, BACKLOG))
        manifest.ingest_many([train(dump(i)) for i in range(BACKLOG)])

    secs, _ = r.op("catchup", catch_up)
    r.context["catchup_rows_per_s"] = (cuts[BACKLOG] - cuts[0]) / secs
    state_mb = (dir_bytes(index_dir) + dir_bytes(manifest_dir)) / 1e6

    # -- timed phase ------------------------------------------------------------
    ingested = [BACKLOG]  # dumps [0, ingested[0]) are in the state
    last_read: dict[str, list[dict]] = {}
    last_pipeline: dict[str, list[dict]] = {}

    def ingest(i: int):
        index.ingest(dump(i))
        r.tracer.count("dedup_index.files", dir_files(index_dir))
        manifest.ingest(train(dump(i)))

    def pipeline():
        clear_dedup_cache()
        release_ann_cache()
        for name in PIPELINE:
            calls = r.py4j.calls if r.py4j else 0
            with r.tracer.span("operators.build"):
                df = QUERIES[name](r.spark, sf_dir)
            if r.py4j:
                r.tracer.count("operators.py4j_calls", r.py4j.calls - calls)
            with r.tracer.span("operators.exec"):
                last_pipeline[name] = [row.asDict() for row in df.collect()]

    def read_views():
        views = {"pairs": index.pairs(), "manifest": manifest.manifest(),
                 "stats_by_lang": manifest.stats_by_lang(),
                 "stats_by_source": manifest.stats_by_source()}
        for name, view in views.items():
            last_read[name] = [row.asDict() for row in view.collect()]

    def timed_phase():
        for kind in PLAN:
            if kind == "ingest":
                r.op("ingest", ingest, ingested[0])
                ingested[0] += 1
            else:
                r.op("read", read_views)

    r.timed_phase(timed_phase)
    if r.traced:
        r.op("cold_pipeline", pipeline)

    # -- checks -------------------------------------------------------------------
    problems = []
    for view, (sql, where) in state_oracles(ORACLES, cuts[ingested[0]]).items():
        problems += checks.check_against_oracle(
            view, checks.run_oracle(sql, documents, where), last_read[view])
    problems += checks.check_pair_property(
        "pairs", [(p["doc_a"], p["doc_b"], p["jaccard"]) for p in last_read["pairs"]],
        JACCARD_THRESHOLD)
    if r.traced:
        dd4 = checks.run_oracle(ORACLES["dd4_minhash_lsh_pairs"], documents)
        expected = {
            "dd4_minhash_lsh_pairs": dd4,
            "dd7_dedup_groups": checks.components([(p["doc_a"], p["doc_b"]) for p in dd4]),
            "px11_training_manifest": checks.run_oracle(ORACLES["px11_training_manifest"],
                                                        documents),
        }
        for name in PIPELINE:
            problems += checks.check_against_oracle(name, expected[name],
                                                    last_pipeline[name])

    e2e = {
        "setup_s": median(r.samples["setup"]),
        "op_p50_s": median(r.samples["ingest"]),
        "read_pass_s": median(r.samples["read"]),
        "op_cpu_s": median(r.cpu_samples["ingest"]),
        "state_mb": state_mb,
    }
    layers = {}
    if r.traced:
        layers = {
            "operators.build_s": r.layer("cold_pipeline", "operators.build"),
            "operators.exec_s": r.layer("cold_pipeline", "operators.exec"),
            "operators.py4j_calls": r.layer("cold_pipeline", "operators.py4j_calls", False),
            "sources.load_table_s": r.layer("cold_pipeline", "sources.load_table"),
            "sources.load_table_jobs": r.layer("cold_pipeline", "sources.load_table_jobs",
                                               False),
            "dedup_index.ingest_s": r.layer("ingest", "dedup_index.ingest"),
            "dedup_index.files": r.layer("ingest", "dedup_index.files", False),
            "curation.ingest_s": r.layer("ingest", "curation.ingest"),
            "curation.ingest_many_s": r.layer("catchup", "curation.ingest_many"),
            "spark.jobs": r.layer("ingest", "spark.jobs", False),
            "spark.tasks": r.layer("ingest", "spark.tasks", False),
            "cache.cached_mb": r.layer("cold_pipeline", "cache.cached_mb", False),
        }
    return {"problems": problems, "e2e": e2e, "layers": layers}
