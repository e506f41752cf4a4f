"""Unit tests for the training-data curation wave (operators/curation.py).

Each test checks hand-computable semantics on tiny in-memory frames —
the sf0.01 oracle gate covers the full-table paths; here we pin the
edge cases the oracle can't isolate (short docs, empty blocklists,
boundary chunk sizes, split determinism).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from simple_vector_spark.operators import curation as CU


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, source=s, text=t, lang="en", n_chars=len(t)) for i, (s, t) in enumerate(rows)]
    )


def test_chunk_audit_boundaries(spark):
    # 128 tokens → exactly one full chunk at stride start=1, then a
    # partial at start=97 (32 tokens); 96 tokens → one partial chunk;
    # 1 token → one partial chunk of 1.
    docs = _docs(
        spark,
        [
            ("a", " ".join(["w"] * 128)),
            ("b", " ".join(["w"] * 96)),
            ("c", "w"),
        ],
    )
    got = {r["source"]: r.asDict() for r in CU.chunk_audit(docs).collect()}
    assert got["a"]["n_chunks"] == 2 and got["a"]["sum_chunk_tokens"] == 128 + 32
    assert got["a"]["n_partial"] == 1
    assert got["b"] == {"source": "b", "n_chunks": 1, "sum_chunk_tokens": 96, "n_partial": 1}
    assert got["c"] == {"source": "c", "n_chunks": 1, "sum_chunk_tokens": 1, "n_partial": 1}


def test_chunk_audit_empty_text_dropped(spark):
    docs = _docs(spark, [("a", ""), ("a", "x y z")])
    got = CU.chunk_audit(docs).collect()
    assert len(got) == 1 and got[0]["n_chunks"] == 1 and got[0]["sum_chunk_tokens"] == 3


def test_repetition_stats_detects_repeats(spark):
    # "a b c a b c a b" repeats the 3-gram "a b c"; "a b c d" does not.
    docs = _docs(spark, [("s", "a b c a b c a b"), ("s", "a b c d")])
    row = CU.repetition_stats(docs).collect()[0]
    assert row["n_docs"] == 2
    assert row["n_docs_with_repeats"] == 1
    # doc1: 6 shingles, 3 distinct (abc/bca/cab); doc2: 2 shingles, 2 distinct.
    assert row["sum_shingles"] == 8 and row["sum_distinct"] == 5
    assert row["corpus_rep_ratio"] == pytest.approx(1 - 5 / 8)


def test_blocklist_audit_counts_occurrences(spark):
    docs = _docs(
        spark,
        [("s", "bad bad good"), ("s", "clean text"), ("t", "BAD upper not matched? no: tokens lowercase")],
    )
    got = {r["source"]: r.asDict() for r in CU.blocklist_audit(docs, ["bad"]).collect()}
    assert got["s"]["n_flagged"] == 1 and got["s"]["total_hits"] == 2
    # tokenizer lowercases, so "BAD" hits too.
    assert got["t"]["n_flagged"] == 1 and got["t"]["total_hits"] == 1


def test_split_audit_deterministic_and_total(spark, sf_dir):
    from simple_vector_spark.sources.loaders import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {(r["split"], r["lang"]): (r["n_docs"], r["sum_chars"]) for r in CU.split_audit(docs).collect()}
    b = {(r["split"], r["lang"]): (r["n_docs"], r["sum_chars"]) for r in CU.split_audit(docs).collect()}
    assert a == b  # hash gate is deterministic across runs/partitionings
    assert sum(n for n, _ in a.values()) == docs.count()
    assert {s for s, _ in a} == {"train", "val", "test"}


def test_decontaminate_flags_planted_copies(spark, sf_dir):
    from simple_vector_spark.registry import PLANT_MOD, PLANT_SHIFT, _docs_plus_spark

    hits = CU.decontaminate(_docs_plus_spark(spark, sf_dir), PLANT_MOD, PLANT_SHIFT)
    rows = {r["doc_id"]: r for r in hits.collect()}
    # every planted copy (original + 1e6) must be flagged with >= 1 bench hit
    planted = [r["doc_id"] for r in rows.values() if r["doc_id"] >= PLANT_SHIFT]
    assert planted, "planted copies must be detected"
    assert all(rows[d]["n_bench_hit"] >= 1 for d in planted)


def test_kmeans_step_partitioning_invariant(spark, sf_dir):
    """Cluster means must not depend on input partitioning (the DECIMAL
    pre-round makes the component sums order-insensitive)."""
    from simple_vector_spark.operators import ann as A
    from simple_vector_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = A.fit_vectors(emb, A.CENTROID_IDS)
    one = {r["cluster_id"]: r.asDict() for r in A.kmeans_step(emb.coalesce(1), cents).collect()}
    many = {r["cluster_id"]: r.asDict() for r in A.kmeans_step(emb.repartition(17), cents).collect()}
    assert one == many
    assert sum(r["n"] for r in one.values()) == emb.count()


def test_redact_pii_counts_and_placeholders(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org end", "src0"),
            (2, "call 555-1234-5678 twice 555-1234-5678", "src0"),
            (3, "host 10.0.0.1 peer 192.168.255.254", "src1"),
            (4, "clean text", "src1"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in CU.redact_pii(docs).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (2, 0, 0)
    assert out[1].redacted == "mail <EMAIL> and <EMAIL> end"
    assert out[2].n_phones == 2 and out[2].redacted.count("<PHONE>") == 2
    assert out[3].n_ips == 2 and out[3].redacted == "host <IP> peer <IP>"
    assert out[4].redacted == "clean text"


def test_pii_audit_injection_accounting(spark):
    # doc_ids 0..6 hit each injection branch exactly once per residue.
    docs = spark.createDataFrame(
        [(i, "w", "src0") for i in range(7)],
        "doc_id long, text string, source string",
    )
    [row] = CU.pii_audit(docs).collect()
    assert row.n_docs == 7
    assert (row.n_emails, row.n_phones, row.n_ips) == (1, 1, 1)
    assert row.n_docs_with_pii == 3
    # email 'user0@example.com' (17 chars) -> '<EMAIL>' (7): removed 10
    # phone '555-0001-1234' (13) -> '<PHONE>' (7): removed 6
    # ip '10.0.2.2' (8) -> '<IP>' (4): removed 4
    assert row.chars_removed == 10 + 6 + 4


def test_mixture_sample_audit_gate(spark):
    docs = spark.createDataFrame(
        [(i, "w", f"src{i % 4}") for i in range(400)],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in CU.mixture_sample_audit(docs).collect()}
    assert set(rows) == {"src0", "src1", "src2", "src3"}
    for s, r in rows.items():
        assert r.target_permille == (800 if int(s[3:]) % 2 == 0 else 200)
        assert 0 <= r.n_kept <= r.n_docs
        assert r.achieved_permille == round(r.n_kept * 1000.0 / r.n_docs, 6)
    # deterministic: heavy sources keep strictly more than thin ones here
    assert rows["src0"].n_kept + rows["src2"].n_kept > rows["src1"].n_kept + rows["src3"].n_kept
