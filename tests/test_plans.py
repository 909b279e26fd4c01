"""Physical-plan quality assertions — the 100-TB posture, checked in CI.

These guard the properties SURVEY §4 promises: filter pushdown to the
parquet scan, column pruning (image ``bytes`` never read by join-only
plans), broadcast join selection for the zone side, and no shuffle on the
point side of the broadcast spatial join.
"""

import pytest
from pyspark.sql import functions as F

from jena_geo_spark import datagen
from jena_geo_spark.operators.spatial_join import (
    build_zone_covers,
    spatial_join_points_zones,
)


@pytest.fixture(scope="module")
def imgs(spark):
    d = datagen.ensure_dataset(0.001)
    return spark.read.parquet(f"{d}/images.parquet")


@pytest.fixture(scope="module")
def covers(spark):
    d = datagen.ensure_dataset(0.001)
    zones = [
        (r.zone_id, r.geom_wkt) for r in spark.read.parquet(f"{d}/zones.parquet").collect()
    ]
    return build_zone_covers(zones)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_scan(imgs):
    df = imgs.filter((F.col("lon") > 0) & (F.col("lat") > 40)).select("image_id")
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert "GreaterThan(lon,0" in plan.replace(" ", "")


def test_single_file_scan_splits_at_most_one_per_core(spark, tmp_path):
    """The session keeps Spark's own split rule, min(128 MiB, max(openCost,
    bytes / defaultParallelism)): a ~24 MB file of 12 row groups is read in
    at most one partition per core, so a Python stage over the scan runs
    in one wave (a fixed 2 MiB split would give ~12 partitions)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 3_000_000
    vals = np.random.default_rng(5).integers(0, 2**62, n)
    path = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table({"v": vals}),
        path,
        row_group_size=n // 12,
        compression="none",
        use_dictionary=False,
    )
    assert pq.ParquetFile(path).num_row_groups >= 12
    par = spark.sparkContext.defaultParallelism
    assert spark.read.parquet(path).rdd.getNumPartitions() <= par


def test_column_pruning_join_never_reads_bytes(spark, imgs, covers):
    out = spatial_join_points_zones(
        spark, imgs.select("image_id", "caption", "lon", "lat"), covers
    )
    plan = _plan(out)
    # ReadSchema of the scan must not include the image payload
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("bytes" not in ln for ln in read_schema)


def test_spatial_join_is_broadcast_no_point_shuffle(spark, imgs, covers):
    out = spatial_join_points_zones(
        spark, imgs.select("image_id", "lon", "lat"), covers
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # the only exchange should be the broadcast of the zone cells — the
    # big point side must not hash/range-shuffle
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_salted_join_shuffles_on_cell_and_salt(spark, imgs, covers):
    # at toy scale AQE rightly broadcasts the salted side too; disable
    # auto-broadcast to verify the shape the path takes at real scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = spatial_join_points_zones(
            spark, imgs.select("image_id", "lon", "lat"), covers, strategy="salted",
            salt_buckets=4,
        )
        plan = _plan(out)
        assert "Exchange hashpartitioning(cell" in plan and "salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_whole_stage_codegen_on_catalyst_path(spark, imgs):
    from jena_geo_spark.operators.tiling import assign_tiles

    d = datagen.ensure_dataset(0.001)
    df = assign_tiles(spark.read.parquet(f"{d}/images.parquet"))
    plan = _plan(df.groupBy("tile_id").count())
    # ancestor derivation is pure bit arithmetic — no python eval anywhere,
    # and the agg runs as codegen-capable HashAggregate over the scan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_dwithin_frames_plan_is_pure_jvm(spark, imgs):
    """The table×table DWithin join must contain NO Python evaluation at
    all — key derivation, 3×3 explode, equi-join, and distance refine are
    whole-stage-codegen arithmetic."""
    from jena_geo_spark.operators.spatial_join import dwithin_join_points_points

    pts = imgs.select(F.col("image_id").alias("id"), "lon", "lat")
    out = dwithin_join_points_points(spark, pts, pts, 0.5)
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_deferred_refine_splits_python_stages(spark, imgs, covers):
    """candidates → tile shuffle → refine: the exchange must sit BETWEEN
    the verify UDF and the PIP refine UDF so each stage runs one Python
    exchange (AQE off in this check: its runtime re-planning hides the
    exchange position in the pre-execution string)."""
    from jena_geo_spark.image.spark import with_phash_verified
    from jena_geo_spark.operators.spatial_join import (
        refine_candidates,
        spatial_join_candidates,
    )
    from jena_geo_spark.operators.tiling import assign_tiles, repartition_by_tile

    v = with_phash_verified(imgs).filter(F.col("phash_ok")).drop(
        "bytes", "w", "h", "fmt", "phash_ok"
    )
    cand = assign_tiles(spatial_join_candidates(spark, v, covers), tile_res=6)
    out = refine_candidates(spark, repartition_by_tile(cand), covers)
    plan = _plan(out)
    # exactly two python stages: verify below the Exchange, refine above it
    assert plan.count("ArrowEvalPython") == 2
    exch = plan.find("Exchange")
    first_py = plan.find("ArrowEvalPython")
    last_py = plan.rfind("ArrowEvalPython")
    # plan strings print top-down: refine (above exchange) appears first
    assert first_py < exch < last_py


def test_verify_udf_not_double_evaluated(spark, imgs):
    """filter(phash_ok).drop(phash_ok) must evaluate the verify UDF once;
    keeping the column after the filter used to clone the UDF into both
    the Filter and the Project (r2.1 regression guard)."""
    from jena_geo_spark.image.spark import with_phash_verified

    v = with_phash_verified(imgs).filter(F.col("phash_ok")).drop(
        "bytes", "w", "h", "fmt", "phash_ok"
    )
    assert _plan(v).count("phash_matches") == 1


def test_polygon_join_frames_plan_shape(spark, imgs):
    """Frame-scale polygon×polygon join: candidates must be an equi-join on
    the packed cell key (never a cartesian product), with NO row-at-a-time
    Python anywhere and exactly one Arrow exchange (the exact-refine UDF)
    in the full plan."""
    from jena_geo_spark.operators.spatial_join import polygon_join_frames

    tri = imgs.limit(200).select(
        F.col("image_id").alias("id"),
        F.format_string(
            "POLYGON((%s %s, %s %s, %s %s, %s %s))",
            *[
                c.cast("string")
                for c in (
                    F.col("lon"), F.col("lat"),
                    F.col("lon") + 4.0, F.col("lat") + 0.8,
                    F.col("lon") + 1.6, F.col("lat") + 3.2,
                    F.col("lon"), F.col("lat"),
                )
            ],
        ).alias("wkt"),
    )
    cand = polygon_join_frames(spark, tri, predicate="bbox")
    cplan = _plan(cand)
    assert "CartesianProduct" not in cplan and "BroadcastNestedLoopJoin" not in cplan
    assert "BatchEvalPython" not in cplan  # no row-at-a-time Python
    full = polygon_join_frames(spark, tri)
    fplan = _plan(full)
    assert "BatchEvalPython" not in fplan
    assert fplan.count("ArrowEvalPython") == 1  # exact refine only


def test_sparql_cardinal_is_pure_catalyst(spark, imgs):
    """spatial:north/west compile to plain range filters: no Python
    evaluation anywhere in the plan, and the range predicates reach the
    parquet scan as PushedFilters on the lon/lat columns."""
    from jena_geo_spark.sparql import PropSpec, PropertyTable, execute_query

    pt = PropertyTable(
        imgs,
        id_col="image_id",
        type_iri="http://ex.org/Img",
        props={
            "http://www.opengis.net/ont/geosparql#asWKT": PropSpec(
                "geom_wkt", kind="wkt_point", lon="lon", lat="lat"
            )
        },
    )
    q = (
        "PREFIX spatial: <http://jena.apache.org/spatial#> "
        "SELECT ?s WHERE { ?s a <http://ex.org/Img> . "
        "?s spatial:north (49.0 0.0) . ?s spatial:west (0.0 9.0) }"
    )
    df = execute_query(spark, q, pt)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "GreaterThanOrEqual(lat,49.0)" in plan  # reached the scan
    import re

    # both one-sided ranges are in the codegen'd Filter (the PushedFilters
    # display elides its tail, so assert on the Filter node's predicates)
    assert re.search(r"lat#\d+ >= 49\.0", plan)
    assert re.search(r"lon#\d+ <= 9\.0", plan)


def test_sparql_geof_relation_plan_single_python_stage(spark):
    """An eh/rcc8 FILTER costs exactly one Arrow exchange for the DE-9IM
    UDF (plus the WKT→WKB coercions batched in a sibling stage) — the
    relation itself never forces a shuffle of either side."""
    from jena_geo_spark.sparql import PropSpec, PropertyTable, execute_query

    d = datagen.ensure_dataset(0.001)
    zones = spark.read.parquet(f"{d}/zones.parquet")
    pt = PropertyTable(
        zones,
        id_col="zone_id",
        type_iri="http://ex.org/Zone",
        props={
            "http://www.opengis.net/ont/geosparql#asWKT": PropSpec(
                "geom_wkt", kind="wkt"
            )
        },
    )
    q = (
        "SELECT ?a ?b WHERE { ?a a <http://ex.org/Zone> . "
        "?b a <http://ex.org/Zone> . ?a geo:ehOverlap ?b . "
        "FILTER(?a != ?b) }"
    )
    plan = _plan(execute_query(spark, q, pt))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # st_relate_match is evaluated once (one ArrowEvalPython carries it)
    assert plan.count("st_relate_match") - plan.count(
        "st_relate_match(") <= plan.count("ArrowEvalPython")


def test_resize_plan_is_narrow_single_python_stage(spark, imgs):
    """resize_images is one mapInPandas over the scan: exactly one Python
    stage, no shuffle (Exchange), no row-at-a-time Python — the 100-TB
    posture for a full-corpus payload transform."""
    from jena_geo_spark.image.resize import resize_images

    out = resize_images(
        imgs.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
        max_side=8,
        out_fmt="raw",
    )
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan  # narrow: no shuffle anywhere
    assert "BatchEvalPython" not in plan


def test_ivf_pq_plan_shape(spark):
    """IVF-PQ physical plan: exactly 3 Arrow stages (encode, ADC,
    exact re-rank), probe fan-out and id-join both broadcast-hash, no
    CartesianProduct, no row-at-a-time Python — the compressed-index
    posture (codes scanned, floats touched only for the shortlist)."""
    from jena_geo_spark.pipelines import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.train_ivf_centroids(emb, n_centroids=4)
    books = similarity.train_pq_codebooks(emb, cents, m_sub=8, n_codes=8)
    out = similarity.ivf_pq_topk(
        emb, [0, 1], k=3, nprobe=2, rerank=2, centroids=cents, codebooks=books
    )
    plan = _plan(out)
    assert plan.count("MapInPandas") == 3
    assert "CartesianProduct" not in plan
    # the probe fan-out must broadcast (the shortlist id-join is also
    # broadcast at this scale, but that one is AQE's size-based call)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BatchEvalPython" not in plan


def test_scrub_pii_is_pure_catalyst(spark):
    """PII scrub: whole-stage codegen end to end — no Python stages, no
    shuffle (per-row regexp only)."""
    from jena_geo_spark.pipelines.text import scrub_pii

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(scrub_pii(docs))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan
    assert plan.lstrip().startswith("*(1)")  # one whole-stage-codegen span


def test_repetition_stats_single_scan(spark):
    """r6 row-local repetition: ONE corpus scan, no gram explode, no
    shuffle at all — the per-doc histogram folds inside the projection."""
    from jena_geo_spark.pipelines.text import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_stats(docs))
    assert plan.count("Generate") == 0
    assert plan.count("Scan parquet") == 1
    # at most the narrow-scan widen repartition (round-robin, no-op at
    # real scale) — never a gram-keyed aggregation exchange
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_phash_groups_no_cartesian_no_python(spark):
    """Perceptual dedup groups: block equi-joins only (no
    CartesianProduct), JVM-side popcount verify, no Python stages."""
    from jena_geo_spark.image.spark import phash_dedup_groups

    imgs = spark.createDataFrame(
        [(i, (i % 7) * 1234567) for i in range(100)], "image_id long, phash long"
    )
    plan = _plan(phash_dedup_groups(imgs, max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_curate_one_scan_one_exchange_no_python(spark):
    """Composed curation (r6): EVERY derivation incl. the repetition
    fracs is row-local in one projection over ONE corpus scan; the
    dedup-key window is the single Exchange in the whole pass — the old
    gram-explode shuffle pair and the repetition join are gone."""
    from jena_geo_spark.pipelines.curate import curate_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(curate_documents(docs))
    assert plan.count("Scan parquet") == 1
    # dedup-key window exchange + at most the narrow-scan widen
    # (round-robin, no-op at real scale); the old shape had the gram
    # explode's two hashpartitioning exchanges and a repetition join
    assert plan.count("Exchange") <= 2
    assert plan.count("hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_spatial_nearby_nonpoint_fused_single_python_stage(spark):
    """Generalized spatial:nearby on a non-point subject: ONE fused
    Arrow stage (spatial_nearby_distance_m — WKT parse + nearest-vertex
    + Vincenty in one exchange, no st_geomfromtext→geof_distance WKB
    round trip), no CartesianProduct, no row-at-a-time Python; the
    under-split input is repartitioned so the kernel fans out."""
    from jena_geo_spark import sparql as S

    df = spark.createDataFrame(
        [(i, f"POLYGON (({i} 0, {i + 1} 0, {i} 1, {i} 0))") for i in range(50)],
        "id int, wkt string",
    )
    pt = S.PropertyTable(
        df, id_col="id", type_iri="http://ex.org/P",
        props={"http://www.opengis.net/ont/geosparql#asWKT": S.PropSpec(
            "wkt", kind="wkt")},
    )
    q = (
        "PREFIX spatial: <http://jena.apache.org/spatial#> "
        "SELECT ?s WHERE { ?s a <http://ex.org/P> . "
        "?s spatial:nearby (0.5 2.0 500.0) . }"
    )
    out = S.execute_query(spark, q, pt)
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "spatial_nearby_distance_m" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert out.count() > 0
