"""Physical-plan audits: the scale properties SURVEY §4.2 claims are
asserted on the actual Catalyst plans, so a refactor that silently
de-optimizes a path (drops partition pruning, introduces a sort-merge
join where a broadcast was intended, widens a scan) fails tests.

These mirror the task's ".explain until it's the plan you'd want"
discipline as executable invariants.
"""

import contextlib
import io

import pytest

from newsleak_spark.indexing import IndexConfig, build_index
from newsleak_spark.query import QuerySpec, bm25_topk
from newsleak_spark.query import engine
from newsleak_spark.query.engine import IndexReader, ShardScan, search


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def index_dir(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    cfg = IndexConfig(n_shards=4, n_term_buckets=8, block_size=32)
    build_index(spark, transcripts, d, cfg)
    return d


def _planned_scans(monkeypatch) -> list:
    """Record every ShardScan the engine plans."""
    seen = []
    orig = ShardScan.plan.__func__

    def plan(cls, *a, **kw):
        seen.append(orig(cls, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(ShardScan, "plan", classmethod(plan))
    return seen


def test_segment_scan_partition_pruned(spark, index_dir, monkeypatch):
    """Each shard task reads only its shard's files of the query terms'
    buckets, across every part (partition pruning on the driver's file
    listing), and pushes the term predicate into the pyarrow scan
    (row-group pruning on the term-sorted layout)."""
    rd = IndexReader(spark, index_dir)
    scans = _planned_scans(monkeypatch)
    search(spark, index_dir, QuerySpec(terms=("spark",), k=10), reader=rd).collect()
    (scan,) = scans
    b = engine._bucket("spark", rd.n_buckets)
    every = rd.shard_files("segments")
    assert set(scan.seg_paths) == set(every) == set(range(rd.n_shards))
    for s, paths in scan.seg_paths.items():
        assert paths and all(f"/shard={s}/bucket={b}/" in p for p in paths)
        assert len(paths) < len(every[s])
    assert str(scan.term_filter()).startswith("is_in(term"), scan.term_filter()
    assert set(scan.segments(0).column("term").to_pylist()) == {"spark"}


def test_segment_scan_drops_position_columns(spark, index_dir, monkeypatch):
    """Term-only queries must not read position bytes (SURVEY §7.5.5);
    phrase queries do."""
    scans = _planned_scans(monkeypatch)
    search(spark, index_dir, QuerySpec(terms=("spark",), k=10)).collect()
    search(spark, index_dir, QuerySpec(phrases=(("fast", "table"),), k=10)).collect()
    term_only, phrase = scans
    assert not {"poscnt", "posflat"} & set(term_only.segments(0).column_names)
    assert {"poscnt", "posflat"} <= set(phrase.segments(0).column_names)


@pytest.mark.parametrize(
    "spec",
    [
        QuerySpec(terms=("spark",), k=10),
        QuerySpec(terms=("table",), role_filter=("user",), k=10),
        QuerySpec(phrases=(("fast", "table"),), k=10),
    ],
    ids=["unfiltered", "role_filtered", "phrase"],
)
def test_search_plan_shape(spark, index_dir, spec):
    """Engine search = one shard pass (mapInArrow over the JVM-side
    shard range) + the global top-k merge: no Exchange, no join."""
    plan = plan_of(search(spark, index_dir, spec))
    assert "TakeOrderedAndProject" in plan and "MapInArrow" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 0, plan


def test_brute_bm25_plan_broadcast_only(spark, transcripts):
    """The brute DataFrame path must broadcast its tiny dims (query
    terms, df) — a sort-merge join here would shuffle the postings side
    twice at scale."""
    plan = plan_of(bm25_topk(transcripts, QuerySpec(terms=("merge", "window"), k=10)))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_facet_scan_prunes_text_column(spark):
    """G1 facet over `role` must not read the (wide) text column — if
    column pruning regresses, every facet pays the fulltext IO.
    (sf0.01 on purpose: the conftest caches the sf0.001 transcripts
    plan, and a cache hit would swap the parquet scan for an
    InMemoryTableScan of all columns.)"""
    from newsleak_spark import facets
    from newsleak_spark.transcripts import load_transcripts

    t = load_transcripts(spark, "/root/testdata/sf0.01")
    plan = plan_of(facets.facet_counts(t, "role", k=10))
    schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "text" not in schema, schema


def test_facet_partial_aggregation(spark):
    """G1 must map-side combine (partial_count before the exchange)."""
    from newsleak_spark import facets
    from newsleak_spark.transcripts import load_transcripts

    t = load_transcripts(spark, "/root/testdata/sf0.01")
    plan = plan_of(facets.facet_counts(t, "role", k=10), "simple")
    assert "partial_count" in plan, plan


def test_dedup_plans_no_cartesian(spark):
    """The dedup/minhash rewrites must stay free of row-explosion joins:
    no CartesianProduct, and simhash needs no join at all."""
    from newsleak_spark import textops

    sim = textops.dedup_simhash(spark, "/root/testdata/sf0.001")
    plan = plan_of(sim)
    assert "CartesianProduct" not in plan and "Join" not in plan
    mh = textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    plan = plan_of(mh)
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_shingle_df_capped(spark):
    """dedup_ngram_jaccard must drop hot shingles BEFORE its self-join:
    a shingle shared by m docs fans the join out m². With df_cap=1 every
    shared shingle is excluded, so no pair can survive — proving the
    cap gates the join input, not the output."""
    from newsleak_spark import textops

    assert textops.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001").count() > 0
    capped = textops.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001", df_cap=1)
    assert capped.count() == 0
    assert "CartesianProduct" not in plan_of(capped)


def test_minhash_bucket_capped(spark):
    """dedup_minhash_lsh must skip over-sized LSH buckets before pair
    emission (m² rows per bucket). max_bucket=1 kills every bucket that
    could emit a pair."""
    from newsleak_spark import textops

    assert textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001").count() > 0
    assert (
        textops.dedup_minhash_lsh(spark, "/root/testdata/sf0.001", max_bucket=1).count()
        == 0
    )


def test_a9_no_broadcast_hint_on_vocabulary(spark):
    """A9's collection-frequency table is one row per vocabulary term —
    hint-broadcasting it OOMs the driver at 100TB scale. Exactly ONE
    broadcast hint is allowed in the plan: the 1-row totals frame.
    (Catalyst may still auto-broadcast cf at small scale from observed
    stats; that's the optimizer's size-based call, which flips to a
    shuffle join when stats say big — the HINT is what must not exist.)"""
    from newsleak_spark import curation

    df = curation.a9_keyterms(spark, "/root/testdata/sf0.01")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_event_window_agg_partial(spark):
    """Tumbling-window agg must map-side combine and stay join-free."""
    from newsleak_spark import events

    plan = plan_of(events.ev_window_agg(spark, "/root/testdata/sf0.01"), "simple")
    assert "partial_count" in plan and "Join" not in plan, plan


def test_a10_single_scan_broadcast_only(spark):
    """A10's tagged one-pass extraction: the only join is the broadcast
    unigram dict — no sort-merge join, no cartesian."""
    from newsleak_spark import curation

    plan = plan_of(curation.a10_dict_extract(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_filtered_search_docmeta_pushdown(spark, index_dir, monkeypatch):
    """F2 filters run inside the shard task: the search plan scans no
    docmeta on the JVM, the role IN-list is pushed into the task's
    pyarrow docmeta read, and the surviving ids equal the JVM filter's
    for the shard."""
    from pyspark.sql import functions as F

    spec = QuerySpec(terms=("spark",), role_filter=("user",), k=10)
    assert "FileScan" not in plan_of(search(spark, index_dir, spec))
    scans = _planned_scans(monkeypatch)
    search(spark, index_dir, spec).collect()
    (scan,) = scans
    assert "role" in str(scan.meta_filter.expression())
    rd = IndexReader(spark, index_dir)
    for s in range(rd.n_shards):
        want = (
            rd.docmeta()
            .filter((F.col("shard") == s) & F.col("role").isin("user"))
            .select("doc_id")
            .collect()
        )
        assert scan.allowed(s).tolist() == sorted(r["doc_id"] for r in want)


def test_id_side_broadcast_bounded(spark, index_dir):
    """The id frame of the shard pass is broadcast into the aggregation
    semi-join (and the match-all '-term' anti-join) only when its
    dictionary-df bound fits autoBroadcastJoinThreshold; above it the
    id side is hash-shuffled, never broadcast."""
    from newsleak_spark.api import NewsleakAPI

    def broadcasts(df) -> int:
        return plan_of(df, "simple").count("BroadcastExchange")

    # a broadcast-free left side, so every BroadcastExchange is the ids'
    docs = spark.range(100_000).withColumnRenamed("id", "doc_id")
    api = NewsleakAPI(spark, docs, index_dir)
    spec, not_only = QuerySpec(terms=("table",)), QuerySpec(not_terms=("table",))
    assert broadcasts(api._matching(spec)) == 1
    assert broadcasts(engine.matching_doc_ids(spark, index_dir, not_only)) == 1
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        for df in (api._matching(spec), engine.matching_doc_ids(spark, index_dir, not_only)):
            assert broadcasts(df) == 0 and "ShuffledHashJoin" in plan_of(df, "simple")
    finally:
        spark.conf.set(key, old)


def test_decontaminate_no_cartesian(spark):
    """Decontamination is ONE equi-join on the shingle key (benchmark
    side is eval-set-sized) — never a cartesian product."""
    from newsleak_spark import textops

    plan = plan_of(textops.decontaminate(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan


def test_redact_terms_no_shuffle(spark):
    """Redaction is row-local: a single projection over the scan — no
    exchange besides the output ordering's."""
    from newsleak_spark import textops

    plan = plan_of(textops.redact_terms(spark, "/root/testdata/sf0.001"), "simple")
    assert "Join" not in plan


def test_cc_plan_depth_stable_across_rounds(spark):
    """Iterative CC must truncate lineage each round (localCheckpoint):
    the result's plan must stay SHALLOW regardless of how many rounds
    ran. A shuffled-id chain forces several contraction rounds; without
    truncation the plan would accrete one join+agg subtree per round
    and the line count would grow multiplicatively, not stay flat."""
    from newsleak_spark import textops

    def plan_lines(n_chain: int) -> int:
        ids = list(range(n_chain))
        # deterministic shuffle so label propagation can't shortcut
        perm = [(i * 37 + 11) % n_chain for i in range(n_chain)]
        edges = spark.createDataFrame(
            [(perm[i], perm[i + 1]) for i in range(n_chain - 1)], "u long, v long"
        )
        comp = textops.connected_components(edges)
        return len(plan_of(comp, "simple").splitlines())

    shallow, deep = plan_lines(8), plan_lines(64)
    assert deep <= shallow + 5, (shallow, deep)


def test_ivf_cell_join_broadcast_only(spark):
    """IVF probing joins the corpus on its cell key against the tiny
    (Q·nprobe) broadcast query side — a sort-merge join here would
    shuffle the full corpus for a handful of query vectors."""
    from newsleak_spark import similarity

    plan = plan_of(similarity.ann_ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_lsh_multiprobe_fans_out_query_side_only(spark):
    """1-bit multi-probe expands ONLY the broadcast query side to the
    hamming-1 buckets: the corpus side must keep exactly n_tables
    bucket rows per vector and the candidate join must stay broadcast
    (no corpus re-shuffle from the fan-out)."""
    from newsleak_spark import similarity
    from newsleak_spark.transcripts import load_transcripts  # noqa: F401

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probed = similarity.ann_lsh_topk_df(emb, probe_bits=1)
    plan = plan_of(probed)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # corpus-side bucket rows: one per (vector, table) — the probe
    # fan-out must not touch it
    n = emb.count()
    buckets = similarity.ann_lsh_buckets(spark, "/root/testdata/sf0.001")
    assert buckets.count() == n * similarity.LSH_TABLES


def test_s2_source_explicit_schema_no_shuffle(spark, tmp_path):
    """The S2 export read must carry its explicit schema (a JSON scan
    with NO schema triggers a whole-extra inference pass over 100 TB)
    and assemble text as codegen'd expressions: no Exchange, no
    BatchEvalPython in the plan."""
    import json as _json

    from newsleak_spark import sources

    p = tmp_path / "exp"
    p.mkdir()
    (p / "a.json").write_text(_json.dumps({"_id": "x", "_source": {"text": "b"}}))
    df = sources.load_es_export(spark, str(p))
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
    assert df.schema["text"].dataType.simpleString() == "string"
    assert df.schema["created"].dataType.simpleString() == "timestamp"
