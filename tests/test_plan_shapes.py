"""Physical-plan regression tests: lock the plan SHAPES the scale
story depends on, not just the result values.

The 100 TB claims in README/SURVEY are plan properties — "dgrid never
shuffles or aggregates", "bcast shuffles only the tiny partial
counts", "the parquet scan receives the filter and the pruned
schema".  A refactor can silently break these while every value test
stays green; these assertions catch that.
"""

import io
import re
from contextlib import redirect_stdout

import pytest

from spatialjoincountovershells_spark import (
    decode_phash,
    logspace_edges,
    shell_count,
)
from spatialjoincountovershells_spark.sources.synth import synth_points


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_nodes(plan: str, op: str) -> int:
    """Count physical nodes by their formatted-mode detail headers
    ('(6) Exchange') — each node prints once there, vs twice overall."""
    return len(re.findall(rf"^\(\d+\) {op}", plan, flags=re.M))


@pytest.fixture(scope="module")
def sides(spark):
    parts = decode_phash(synth_points(spark, 5000, seed=1, id_col="pid"))
    halos = decode_phash(synth_points(spark, 300, seed=2))
    return halos, parts


EDGES = logspace_edges(1.0, 80.0, 8)


def test_dgrid_plan_has_no_shuffle_and_no_aggregate(spark, sides, tmp_path):
    """Neither a synthetic halo side nor a parquet one with a row group
    per file and a file per core or more (perfbench's halo table) is
    shuffled: their pieces cover the cores."""
    halos, parts = sides
    path = str(tmp_path / "halos")
    halos.select("halo_id", "phash").repartition(8).write.parquet(path)
    for h in (halos, decode_phash(spark.read.parquet(path))):
        p = plan_of(shell_count(h, parts, EDGES, plan="dgrid"))
        assert "Exchange" not in p
        assert "Aggregate" not in p  # the map output IS the result


def test_bcast_plan_shuffles_only_the_partial_counts(sides):
    halos, parts = sides
    p = plan_of(shell_count(halos, parts, EDGES, plan="bcast"))
    # exactly one Exchange: the tiny (halo, shell) partial-count agg;
    # the big table itself is never shuffled or exploded
    assert n_nodes(p, "Exchange") == 1
    assert "Generate" not in p  # no ring explode of either side


def test_nn_dist_cdf_dgrid_is_one_arrow_sweep(sides):
    """nn_dist_cdf(plan='dgrid') runs the shared sweep operator once:
    exactly one MapInArrow, and no ring explode."""
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    _, parts = sides
    p = plan_of(nn_dist_cdf(parts, EDGES, id_col="pid", plan="dgrid"))
    assert n_nodes(p, "MapInArrow") == 1
    assert "Generate" not in p


def test_sql_plan_is_an_equi_join_with_partial_aggregation(sides):
    halos, parts = sides
    p = plan_of(shell_count(halos, parts, EDGES, plan="sql"))
    assert "Join" in p and "cell_id" in p
    assert "partial_count" in p  # map-side combine before the shuffle
    assert "NestedLoop" not in p  # the distance predicate must not
    # demote the join to a cartesian/BNL: it rides the cell_id equi-join


def test_parquet_scan_gets_pushdown_and_pruned_schema(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where("doc_id = 7")
        .select("doc_id", "lang")
    )
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]" in p
    # column pruning reached the reader: only the 2 selected columns
    m = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert m and "doc_id" in m[0] and "lang" in m[0] and "text" not in m[0]


def test_fused_plan_cogroups_without_exploding_particles(sides):
    halos, parts = sides
    p = plan_of(shell_count(halos, parts, EDGES, plan="fused"))
    assert "FlatMapCoGroupsInPandas" in p or "CoGroup" in p
    # exactly one Generate: the ring explode of the SMALL (halo) side
    assert n_nodes(p, "Generate") == 1


def test_crossmodal_plan_stays_jvm_after_source(spark):
    """crossmodal_dup_pairs' scale story: beyond the data SOURCE, the
    only Python node is the caption bucket kernel (one MapInPandas);
    the phash band slices, both pair expansions and the full-outer
    join are JVM expressions.  Built from an in-memory DataFrame so
    the plan contains no MapInPandas source at all."""
    from spatialjoincountovershells_spark.operators.images import (
        crossmodal_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, i * 977, f"caption text number {i} padded out") for i in range(50)],
        "image_id long, phash long, caption string",
    )
    plan = plan_of(crossmodal_dup_pairs(df))
    assert n_nodes(plan, "MapInPandas") == 1
    assert len(re.findall(r"^\(\d+\) \w*(InPandas|InArrow|EvalPython)", plan, flags=re.M)) == 1


def test_bloom_words_hashes_strings_once(spark):
    """bloom_words on a string value runs the Arrow base-hash pass once:
    the per-group word grid comes from the unhashed frame, so the
    opaque MapInPandas is not planned a second time for it."""
    from spatialjoincountovershells_spark.operators.sketches import bloom_words

    df = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(30)], "g int, v string"
    )
    assert n_nodes(plan_of(bloom_words(df, ["g"], "v")), "MapInPandas") == 1


def test_decontaminate_broadcasts_bench_and_never_shuffles_corpus_text(spark):
    """decontaminate's scale story: the benchmark shingle set is the
    broadcast build side, the corpus fan-out is map-side (no Exchange
    between the corpus scan and the broadcast probe), and the only
    shuffles move (doc_id, count) rows — matched hits and the bench
    set's own distinct, never corpus text.  Pure JVM throughout."""
    from spatialjoincountovershells_spark.operators.corpus import decontaminate

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words") for i in range(200)],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id % 20 = 7")
    train = docs.where("doc_id % 20 <> 7")
    plan = plan_of(decontaminate(train, bench))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # the corpus-side shingle probe is a broadcast INNER hash join
    # (bench set broadcast; the corpus fan-out never shuffles) ...
    assert re.search(r"BroadcastHashJoin Inner", plan)
    assert "BroadcastNestedLoop" not in plan
    # ... and the verdict join back is keyed on ids only (statically a
    # sort-merge; AQE converts it to broadcast when hits are sparse).
    # Shuffles: bench distinct, matched-hit groupBy, id-keyed verdict
    # join — all narrow rows, never corpus text.
    assert n_nodes(plan, "Exchange") <= 3


def test_repetition_stats_single_gram_shuffle_and_no_python(spark):
    """repetition_stats' scale story: one scan projection fans words
    and bigrams out together (the split array hoisted to a column, so
    the text is read once), one shuffle keyed (id, kind, gram) with a
    partial aggregate below it, one tiny per-doc agg — and no Python
    eval nodes anywhere."""
    from spatialjoincountovershells_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(i, "alpha beta alpha gamma beta alpha") for i in range(50)],
        "doc_id long, text string",
    )
    plan = plan_of(repetition_stats(docs))
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert n_nodes(plan, "Exchange") == 2  # gram counts + per-doc agg
    # partial aggregation happens below the gram shuffle (map-side
    # collapse of repeated grams — the property that bounds the
    # shuffle by distinct grams, not doc length)
    assert n_nodes(plan, "HashAggregate") >= 4


def test_ivf_centroid_seed_prefilters_before_takeordered(spark):
    """IVF's default centroid seed (round-4 VERDICT #9): a hash-
    threshold Filter feeds a TakeOrderedAndProject — no global Sort
    node, and the top-n merge input is the tiny sampled set, not the
    corpus."""
    from spatialjoincountovershells_spark.operators.similarity import (
        seed_centroid_rows,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    seed = seed_centroid_rows(emb, 16)
    p = plan_of(seed)
    assert n_nodes(p, "TakeOrderedAndProject") == 1
    assert n_nodes(p, "Sort") == 0
    assert n_nodes(p, "Exchange") == 0
    assert "Filter" in p and "1000000" in p  # the hash-threshold prefilter
    rows = seed.toPandas()
    assert len(rows) == 16 and rows.vec_id.is_unique


def _lattice_ops():
    from spatialjoincountovershells_spark.operators.hexgrid import (
        hex_dbscan,
        hex_kring_stats,
    )
    from spatialjoincountovershells_spark.operators.tiling import (
        tile_dbscan,
        tile_getis_g,
        tile_kring_stats,
    )

    return {
        "tile_kring_stats": lambda p: tile_kring_stats(p, level=4, k=2),
        "tile_dbscan": lambda p: tile_dbscan(p, level=4, min_pts=3),
        "hex_kring_stats": lambda p: hex_kring_stats(p, 60.0, k=2),
        "hex_dbscan": lambda p: hex_dbscan(p, 60.0, min_pts=3),
        "tile_getis_g": lambda p: tile_getis_g(p, level=4),
    }


@pytest.mark.parametrize("op", sorted(_lattice_ops()))
def test_lattice_plans_have_no_per_row_lambda(spark, op):
    """The lattice ring scatter explodes one folded offset literal:
    a higher-order-function lambda in the optimized plan would be
    evaluated per row, interpreted, outside whole-stage codegen."""
    pts = spark.createDataFrame(
        [(float(i * 37 % 1000), float(i * 61 % 1000)) for i in range(200)],
        "x double, y double",
    )
    df = _lattice_ops()[op](pts)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" in plan
    assert "lambdafunction" not in plan
