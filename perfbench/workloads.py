"""The benchmark's workloads: which catalog queries run, and which fixture
tables set-up first-touches. README.md gives the reasons for each choice.

Ops are named by their catalog prefix (``q01`` for ``q01_pricing_summary``).
"""

from __future__ import annotations

from dataclasses import dataclass


# warm pass time both workloads were sized for (4 cores); a run makes
# round(seconds / NOMINAL_PASS_S) timed passes
NOMINAL_PASS_S = 5.0


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    tables: tuple[str, ...]


WORKLOADS = {
    # dabstract's own surface over the fact tables (lineitem, orders and
    # events exceed the 2 MB hot-table budget and stream from parquet):
    # select/unique/concat and summaries, the Dataset facade, a
    # processing-chain aggregation, an FFT chain through an Arrow UDF, a
    # cross-validation split, and an ORC write-then-read round trip.
    # No loops, no streams. Outputs are small, so the correctness pass
    # measures the program rather than collect().
    "dataset_prep": Workload(
        ops=(
            "q01", "q14", "q17", "q19",  # queries.py
            "q82",  # queries_api.py
            "q62", "q65",  # queries_processing.py
            "q33",  # queries_xval.py
            "q208",  # queries_sources.py
        ),
        tables=("lineitem", "orders", "events", "customer", "embeddings"),
    ),
    # LLM-curation operators over the documents working set, which fits
    # the hot-table cache: language id, quality filters and term
    # statistics, fingerprints and line dedup, the connected-components
    # fixed-point loop that fires eager actions inside the query function, and
    # one availableNow streaming drain with a state store. q40 and q43
    # are not run: README.md lists their JVM-to-JVM latency flip as
    # known unsteady behaviour that this benchmark does not measure.
    "curation": Workload(
        ops=(
            "q41", "q100", "q239", "q288",  # text, textstats
            "q42", "q223",  # similarity, dedup
            "q84",  # connected-components loop
            "q89",  # streaming drain
        ),
        tables=("documents",),
    ),
}
