"""The ``__spark_entry__.queries()`` leaves: their families, the sample the
``leaves_sf0.001`` workload runs, and the order-insensitive result digests
each run is checked against.

Record the digests (after ``scripts/check_oracles.py`` is green) with::

    python3 perfbench/leaves.py

It runs each leaf's DuckDB oracle over ``perfbench/data/sf0.001`` and
writes ``perfbench/leaf_digests.json``; the reference is the oracle, not
the Spark code under test. The Spark side runs first because some oracles
read the parquet dump a leaf writes.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA_DIR = HERE / "data" / "sf0.001"
DIGESTS = HERE / "leaf_digests.json"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: leaf -> the repo module it exercises. ``tpch`` is the control: leaves
#: that call no repo module at all. ``other`` holds the small helpers
#: (time ops, as-of and interval joins, chunking, sampling, splits,
#: accessors).
_FAMILY_LEAVES = {
    "tpch": """tpch_q1_pricing tpch_q3_revenue tpch_q18_large_orders
        tpch_q6_forecast value_outliers_by_type props_key_stats_events
        value_deciles_by_type user_event_type_pivot tpch_q4_late_orders
        tpch_q5_local_volume tpch_q12_priority_class tpch_q14_promo_share
        tpch_q13_order_counts tpch_q15_top_supplier
        tpch_q17_small_qty_orders tpch_q22_dormant_customers orders_rollup
        top_docs_per_lang heavy_clickers_not_viewers
        events_value_percentiles column_stats_documents
        orders_priority_stats embedding_dims""",
    "functions.dedup": """dedup_survivors_embeddings contamination_src0
        minhash_near_dups_documents near_dup_components_embeddings
        simhash_documents embedding_near_pairs_by_label""",
    "functions.text": """entropy_documents curation_funnel_documents
        winnow_fingerprints_documents shared_passages_documents
        exact_dup_groups_documents tfidf_top_terms_lang
        repetition_documents token_counts_documents quality_documents
        lang_pred_documents quality_score_documents""",
    "functions.media": "media_features media_resize_frames",
    "functions.similarity": """cosine_topk_embeddings lsh_topk_embeddings
        ivf_topk_embeddings""",
    "validation": """tagged_union_spans validate_interleaved
        versioned_dispatch_documents validate_documents
        verdict_summary_documents validate_events
        embedding_size_violations""",
    "sources.json_ingest": "validate_json_documents versioned_json_documents",
    "sources.checkpoint": "checkpointed_validation_documents",
    "suite": """conversion_funnel_events sessionized_events
        error_events_in_sessions dangling_lineitem_bloom interleaved_suite
        chi2_drift_event_types psi_drift_event_types duplicate_user_ids
        duplicate_user_ids_salted referential_events_customer
        dangling_lineitem_orders length_histogram_documents
        events_value_histogram ks_drift_events""",
    "other": """rolling_7d_events packed_batches_documents
        weighted_mix_documents span_offset_totals purchase_asof_prior_view
        chunked_interleaved_docs capped_docs_per_source
        train_split_documents""",
}
FAMILY = {leaf: fam for fam, leaves in _FAMILY_LEAVES.items()
          for leaf in leaves.split()}

#: A recorded run of all 77 leaves (``run.py --leaves all``): 74.8 s cold
#: and 53.7 s warm on 4 vCPUs, more than one benchmark run may spend.
ALL_LEAVES_RUN = HERE / "results" / "leaves_all.json"


def _median_leaves() -> list[str]:
    """In each family, the leaf whose warm time in ``ALL_LEAVES_RUN`` is
    the family's median (the lower one for an even count), so that each
    ``leaves.<family>`` metric stands for a typical leaf of its family.
    ``sources.checkpoint`` is left out: its one leaf takes 7.5 s warm, and
    the ``checkpoint_invalid_heavy`` workload covers that module."""
    warm = json.loads(ALL_LEAVES_RUN.read_text())["op_warm_s"]
    sample = []
    for fam, names in _FAMILY_LEAVES.items():
        if fam != "sources.checkpoint":
            ranked = sorted(names.split(), key=lambda n: warm[f"leaf.{n}"])
            sample.append(ranked[(len(ranked) - 1) // 2])
    return sample


#: The leaves the ``leaves_sf0.001`` workload runs.
SAMPLE = _median_leaves()


def _norm(v):
    """``check_oracles.norm_cell`` rounding, applied inside nested values
    too, so that equal results from either engine print the same."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    if isinstance(v, Decimal):
        return round(float(v), 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def digest(columns, rows) -> str:
    """Digest of a result with columns sorted by name and rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    body = repr(([columns[i] for i in order], out)).encode()
    return hashlib.sha256(body).hexdigest()[:16]


def record() -> int:
    import shutil

    import duckdb

    sys.path.insert(0, str(HERE))
    from harness import ROOT, host_facts, start_session

    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / "record"
    spark = start_session(work, host_facts())
    import __spark_entry__ as entry

    entry._ORACLE_TMP = str(work / "oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR}/{t}.parquet')")
    oracles = entry.oracle_sql()
    digests, bad = {}, 0
    for name, fn in entry.queries().items():
        sdf = fn(spark, str(DATA_DIR))
        got = digest(sdf.columns, sdf.collect())
        res = con.execute(oracles[name])
        want = digest([d[0] for d in res.description], res.fetchall())
        digests[name] = want
        print(f"{'PASS' if got == want else 'FAIL'}  {name}", flush=True)
        bad += got != want
    DIGESTS.write_text(json.dumps(digests, indent=1) + "\n")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(digests) - bad} match, {bad} differ; wrote {DIGESTS}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(record())
