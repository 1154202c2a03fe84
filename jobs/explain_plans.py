"""Physical-plan audit: `.explain("formatted")` for the plans that matter,
with automated checks for the properties the engine's scale story depends
on. Writes BENCH/PLANS.md.

Checked properties:
- parquet scans show PushedFilters + pruned ReadSchema (filter/column
  pushdown reaching the source)
- dimension joins pick BroadcastHashJoin
- the OR-key join decomposition avoids BroadcastNestedLoopJoin
- block/pair joins are hash or sort-merge (never nested loop)
- whole-stage codegen covers the JVM column algebra
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from ccer.plans import driver_queries as dq
    from ccer.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="plan-audit", cores=8, shuffle_partitions=8)

    sections = []
    checks = []

    def audit(name, df, must_contain=(), must_not_contain=()):
        text = plan_of(df)
        ok = True
        notes = []
        for token in must_contain:
            hit = token in text
            ok &= hit
            notes.append(f"{'✓' if hit else '✗'} contains `{token}`")
        for token in must_not_contain:
            miss = token not in text
            ok &= miss
            notes.append(f"{'✓' if miss else '✗'} avoids `{token}`")
        checks.append((name, ok, notes))
        sections.append(f"## {name}\n\n" + "\n".join(f"- {n}" for n in notes) +
                        f"\n\n```\n{text[:3500]}\n```\n")
        return ok

    # 1. filter + column pushdown on the parquet scan
    audit(
        "filtered_scan_pushdown",
        dq.q_filtered_scan_pushdown(spark, sf_dir),
        # "* Filter" = the operator runs inside whole-stage codegen
        # (formatted mode marks codegen'd operators with an asterisk)
        must_contain=["PushedFilters: [IsNotNull(l_shipdate)", "* Filter"],
        must_not_contain=["BroadcastNestedLoopJoin"],
    )
    # 2. dimension joins broadcast
    audit(
        "broadcast_join_agg",
        dq.q_broadcast_join_agg(spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not_contain=["SortMergeJoin"],
    )
    # 3. OR-key decomposition: equi hash joins, no nested loop
    audit(
        "or_key_join_decomposed",
        dq.q_or_key_join_decomposed(spark, sf_dir),
        must_not_contain=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 4. anti/semi joins are real joins
    audit(
        "anti_join_exclusion",
        dq.q_anti_join_exclusion(spark, sf_dir),
        must_contain=["LeftAnti"],
    )
    # 5. ER block self-join: hash/SMJ over block_key, scorer after the join
    from ccer.operators.blocking import block_keys, candidate_pairs, salt_oversized_blocks
    from ccer.operators.features import extract_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(500)
    feats = extract_features(dq.pages_from_documents(docs))
    pairs = candidate_pairs(salt_oversized_blocks(block_keys(feats)))
    audit(
        "candidate_pairs_self_join",
        pairs,
        must_not_contain=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 6. ordered export: distributed top-k (TakeOrderedAndProject), never a
    # global single-partition window over the full table
    audit(
        "ordered_export_topk",
        dq.q_ordered_export(spark, sf_dir),
        must_contain=["TakeOrderedAndProject"],
    )
    # 7. bucketed features: the scorer's slim endpoint join reads the
    # bucketed stage with NO features-side exchange (only the 16-byte
    # pairs side shuffles)
    import shutil
    import tempfile

    from ccer.operators.blocking import join_endpoints
    from ccer.sources.catalog import StageStore

    wd = tempfile.mkdtemp(prefix="ccer_planaudit_")
    try:
        # disable broadcast so the audit exercises the shuffle-join shape
        # the stage has at scale (broadcast would trivially hide exchanges)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        store = StageStore(spark, wd)
        feats_b = store.write(feats, "features", bucket_by="id")
        pairs_b = store.write(pairs, "pairs")
        wide = join_endpoints(pairs_b, feats_b, ["sh", "n_sh"])
        text = plan_of(wide)
        import re as _re

        # both bucketed features scans must come straight from the catalog
        # table, with zero features-side exchanges (only pairs shuffles)
        feat_exchanges = len(_re.findall(r"Exchange hashpartitioning\(_fid", text))
        ok = text.count("ccer_features_") >= 2 and feat_exchanges == 0
        notes = [
            f"{'✓' if text.count('ccer_features_') >= 2 else '✗'} both joins scan the bucketed stage table",
            f"{'✓' if feat_exchanges == 0 else '✗'} zero features-side exchanges (found {feat_exchanges})",
        ]
        checks.append(("bucketed_features_join", ok, notes))
        sections.append(
            "## bucketed_features_join\n\n"
            + "\n".join(f"- {n}" for n in notes)
            + f"\n\n```\n{text[:3500]}\n```\n"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        shutil.rmtree(wd, ignore_errors=True)

    # 8/9. standalone near-dup ops: the pair-dedup exchange must carry
    # BARE id pairs — no signature/vector arrays riding the shuffle
    # (signatures join back on id after dedup, like the ER scorer)
    import re as _re2

    def audit_slim_pair_exchange(name, df):
        text = plan_of(df)
        blocks = [b for b in text.split("\n\n") if "Exchange" in b]
        pair_exchanges = [
            b for b in blocks if "hashpartitioning(id_a" in b and "id_b" in b
        ]
        slim = bool(pair_exchanges) and all(
            _re2.search(r"Input \[2\]", b) and "sig" not in b and "vec" not in b
            for b in pair_exchanges
        )
        notes = [
            f"{'✓' if pair_exchanges else '✗'} pair-dedup exchange present",
            f"{'✓' if slim else '✗'} every (id_a,id_b) exchange ships exactly 2 columns, no array payload",
        ]
        checks.append((name, slim, notes))
        sections.append(
            f"## {name}\n\n" + "\n".join(f"- {n}" for n in notes)
            + f"\n\n```\n{text[:3500]}\n```\n"
        )

    from ccer.operators.ann import embedding_neardup_pairs
    from ccer.operators.dedup import minhash_neardup_pairs

    docs500 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(500)
        .select("doc_id", "text")
    )
    # disable broadcast: at audit scale every join would broadcast and the
    # pair dedup would aggregate without any exchange — the check must see
    # the shuffle shape these plans have at scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        audit_slim_pair_exchange(
            "minhash_neardup_slim_exchange", minhash_neardup_pairs(docs500)
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
        audit_slim_pair_exchange(
            "embedding_neardup_slim_exchange", embedding_neardup_pairs(emb)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    # 10. IVF top-k: the candidate-dedup exchange carries bare
    # (query_id, neighbor_id) id pairs; vectors join back only after
    from ccer.operators.ann import ivf_topk

    emb_ivf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 400
    )
    qs = emb_ivf.filter(F.col("vec_id") < 5)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        text = plan_of(ivf_topk(emb_ivf, qs, k=3, n_centroids=4, nprobe=2))
        blocks = [b for b in text.split("\n\n") if b.strip().startswith(("(", "Exchange"))]
        ex_blocks = [b for b in blocks if ") Exchange" in b]
        # every exchange that carries a candidate pair (both ids) must be
        # vector-free: the query vector broadcasts, the corpus vector
        # attaches on the single-id neighbor join
        pair_ex = [
            b for b in ex_blocks if "query_id" in b and "neighbor_id" in b
        ]
        slim = bool(pair_ex) and all(
            "qv" not in b and "cv" not in b and "embedding" not in b
            for b in pair_ex
        )
        notes = [
            f"{'✓' if pair_ex else '✗'} pair-carrying exchange present ({len(pair_ex)})",
            f"{'✓' if slim else '✗'} no exchange ships a vector alongside a candidate pair",
        ]
        checks.append(("ivf_slim_candidates", slim, notes))
        sections.append(
            "## ivf_slim_candidates\n\n" + "\n".join(f"- {n}" for n in notes)
            + f"\n\n```\n{text[:3500]}\n```\n"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    # 11. quality filters are shuffle-free per-row algebra (the whole
    # point of their scale story: 10^12 docs, zero exchanges)
    from ccer.operators.quality import (
        c4_filters,
        pii_redact,
        repetition_signals,
        winnow_fingerprints,
    )

    # filter (partition-local), not limit — a global limit injects its own
    # SinglePartition exchange and would fail the no-shuffle check spuriously
    docs_q = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    combined = []
    for qname, qdf in [
        ("repetition_signals", repetition_signals(docs_q)),
        ("c4_filters", c4_filters(docs_q)),
        ("pii_redact", pii_redact(docs_q)),
        ("winnow_fingerprints", winnow_fingerprints(docs_q, k=8, w=4)),
    ]:
        t = plan_of(qdf)
        combined.append((qname, "Exchange" not in t, t))
    allok = all(ok for _, ok, _ in combined)
    notes = [
        f"{'✓' if ok else '✗'} {qn}: no Exchange in plan" for qn, ok, _ in combined
    ]
    checks.append(("quality_filters_no_shuffle", allok, notes))
    sections.append(
        "## quality_filters_no_shuffle\n\n"
        + "\n".join(f"- {n}" for n in notes)
        + f"\n\n```\n{combined[0][2][:1800]}\n```\n"
    )

    # 12. temporal joins: the bucketed range join must plan as a hash/SMJ
    # equi-join (a naive ts-inequality join would be a nested loop), and
    # the as-of composition must be one shuffle (union + window), not a
    # per-row theta join
    audit(
        "range_join_equi_not_nested_loop",
        dq.q_range_join(spark, sf_dir),
        must_not_contain=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # decontamination: eval grams must broadcast (map-side filter of the
    # corpus gram stream — no shuffle of corpus grams into the join)
    audit(
        "decontam_broadcast_eval_grams",
        dq.q_decontam_overlap(spark, sf_dir),
        must_contain=["BroadcastHashJoin", "xxhash64"],
        must_not_contain=["SortMergeJoin", "CartesianProduct"],
    )
    # chunk dedup: hash-keyed joins only; the dup-hash join is left to
    # AQE (dup set is not reliably small), never a nested loop
    audit(
        "chunk_dedup_hash_keys",
        dq.q_chunk_dedup(spark, sf_dir),
        must_contain=["xxhash64"],
        must_not_contain=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # stratified sample: pure map-side filter — no shuffle anywhere
    audit(
        "stratified_sample_no_shuffle",
        dq.q_stratified_sample(spark, sf_dir),
        must_not_contain=["Exchange", "Join"],
    )
    # tfidf: per-doc window partitioned by doc id, with Spark's rank
    # pushdown (WindowGroupLimit) trimming each group to k map-side —
    # never an unpartitioned window or cartesian product
    audit(
        "tfidf_partitioned_window_group_limit",
        dq.q_tfidf_top_terms(spark, sf_dir),
        must_contain=["WindowGroupLimit", "hashpartitioning(id#"],
        must_not_contain=["CartesianProduct"],
    )

    # source stats: corpus share via 1-row broadcast cross join, NOT a
    # global (unpartitioned) window funneling all rows into one task
    audit(
        "source_stats_no_global_window",
        dq.q_source_stats(spark, sf_dir),
        must_contain=["HashAggregate"],
        must_not_contain=["Window"],
    )

    # exact dedup: ONE exchange, keyed on the 16-byte md5 digest — never
    # the raw text as a shuffle key — and the text never crosses it: the
    # exchange ships (digest, doc_id) and the survivors are a doc_id
    # keep-list (a full-row survivor pick shipped every column)
    from ccer.operators.dedup import exact_dedup

    docs_full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ed_text = plan_of(exact_dedup(docs_full))
    # formatted explain prints each node in the tree ("Exchange (4)") and
    # again in the details ("(4) Exchange") — count tree nodes only
    import re as _re

    n_exch = len(_re.findall(r"(?<!Broadcast)Exchange \(\d+\)", ed_text))
    # the only Exchange ships two attributes, the digest and the partial
    # min id; a full-row survivor pick ships the row (text included)
    # inside an aggregation-buffer struct, so "no text#" alone misses it
    exch_inputs = _re.findall(r"\(\d+\) Exchange\nInput \[(\d+)\]: \[(.*)\]", ed_text)
    text_free = bool(exch_inputs) and all(
        n == "2" and "text#" not in attrs for n, attrs in exch_inputs
    )
    ed_ok = n_exch == 1 and "md5" in ed_text and text_free
    notes = [
        f"{'✓' if n_exch == 1 else '✗'} exactly one Exchange ({n_exch} found)",
        f"{'✓' if 'md5' in ed_text else '✗'} shuffle keyed on md5 digest, not raw text",
        f"{'✓' if text_free else '✗'} the Exchange carries only (digest, id): no `text`, no row struct",
    ]
    checks.append(("exact_dedup_single_digest_exchange", ed_ok, notes))
    sections.append(
        "## exact_dedup_single_digest_exchange\n\n"
        + "\n".join(f"- {n}" for n in notes)
        + f"\n\n```\n{ed_text[:3500]}\n```\n"
    )

    # keep-list read-back: a curation filter stage stores only survivor
    # doc_ids and reads back as docs semi-joined to them; at sf0.01 the
    # keep-list is far under the broadcast threshold, so the read-back is
    # a broadcast semi-join and docs is scanned in place, never shuffled
    import tempfile

    from ccer.sources.catalog import StageStore

    with tempfile.TemporaryDirectory() as keep_wd:
        store = StageStore(spark, keep_wd)
        store.write(docs_full, "docs")
        store.write(exact_dedup(docs_full), "exact", keep_of="docs")
        kl_text = plan_of(StageStore(spark, keep_wd).read("exact"))
    kl_ok = "BroadcastHashJoin" in kl_text and "LeftSemi" in kl_text
    kl_no_exch = not _re.search(r"(?<!Broadcast)Exchange \(\d+\)", kl_text)
    notes = [
        f"{'✓' if kl_ok else '✗'} read-back is a `BroadcastHashJoin LeftSemi`",
        f"{'✓' if kl_no_exch else '✗'} no Exchange over docs (only the keep-list broadcasts)",
    ]
    checks.append(("keep_list_broadcast_semi_join", kl_ok and kl_no_exch, notes))
    sections.append(
        "## keep_list_broadcast_semi_join\n\n"
        + "\n".join(f"- {n}" for n in notes)
        + f"\n\n```\n{kl_text[:3500]}\n```\n"
    )

    asof_text = plan_of(dq.q_asof_join(spark, sf_dir))
    n_joins = asof_text.count("Join")
    asof_ok = "Window" in asof_text and "BroadcastNestedLoopJoin" not in asof_text
    notes = [
        f"{'✓' if 'Window' in asof_text else '✗'} as-of runs as a window, not a join",
        f"{'✓' if 'BroadcastNestedLoopJoin' not in asof_text else '✗'} no nested-loop join ({n_joins} Join nodes total)",
    ]
    checks.append(("asof_join_window_composition", asof_ok, notes))
    sections.append(
        "## asof_join_window_composition\n\n"
        + "\n".join(f"- {n}" for n in notes)
        + f"\n\n```\n{asof_text[:3500]}\n```\n"
    )

    n_ok = sum(1 for _, ok, _ in checks if ok)
    header = (
        "# BENCH/PLANS — physical-plan audit\n\n"
        f"{n_ok}/{len(checks)} checks green.\n\n"
        "| plan | verdict |\n|---|---|\n"
        + "\n".join(f"| {n} | {'PASS' if ok else 'FAIL'} |" for n, ok, _ in checks)
        + "\n\n"
    )
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as fh:
        fh.write(header + "\n".join(sections))
    print(f"{n_ok}/{len(checks)} plan checks green; wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
