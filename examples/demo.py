"""End-to-end demo mirroring the reference's workflow (examples/
gssha_demo.ipynb): land a gridded dataset, load an AOI, resample,
extract point time-series, export GSSHA inputs — then the scale
extensions (dedup + similarity over documents/embeddings).

Run: python examples/demo.py [testdata_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from xarray_dataaccessor_spark import (  # noqa: E402
    DEFAULT_CATALOG,
    get_bounding_box,
    get_dataset,
    get_spark,
    points_df,
)
from xarray_dataaccessor_spark.sinks.gssha import (  # noqa: E402
    make_hmet_wes,
    make_precipitation_input,
)
from xarray_dataaccessor_spark.sources.ingest import land_grid_parquet  # noqa: E402
from xarray_dataaccessor_spark.sources.tables import grid_view, load  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="xda-spark-demo", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="xda_demo_"))

    # 0. real NetCDF bytes -> distributed decode -> long-form grid
    # (S1/S4: the pure NetCDF3 reader runs inside mapInPandas)
    import numpy as np

    from xarray_dataaccessor_spark.sources.ingest import netcdf_glob_to_grid
    from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3

    write_netcdf3(
        str(work / "granule.nc"),
        dims={"time": 24, "latitude": 3, "longitude": 4},
        variables={
            "time": (["time"], np.arange(24, dtype="i4"),
                     {"units": "hours since 2019-01-30 00:00:00"}),
            "latitude": (["latitude"], np.array([42.9, 42.65, 42.4]), {}),
            "longitude": (["longitude"], np.array([-83.4, -83.15, -82.9, -82.65]), {}),
            "t2m": (["time", "latitude", "longitude"],
                    270.0 + np.arange(24 * 3 * 4, dtype="f8").reshape(24, 3, 4) * 0.01,
                    {"units": "K"}),
        },
    )
    nc_grid = netcdf_glob_to_grid(spark, str(work / "*.nc"), "t2m")
    print("NetCDF granule decoded rows:", nc_grid.count())

    # 0b. real GeoTIFF bytes -> distributed decode (S5: pure TIFF reader,
    # DEFLATE strips + GeoTIFF tags); then a convolutional upsample and a
    # codegen UTM reprojection of the decoded grid
    from xarray_dataaccessor_spark.operators.spatial import (
        spatial_resample,
        transform_crs_udf,
    )
    from xarray_dataaccessor_spark.sources.geotiff import write_geotiff
    from xarray_dataaccessor_spark.sources.ingest import geotiff_glob_to_grid

    write_geotiff(
        str(work / "lai_2021.tif"),
        np.arange(12, dtype="f4").reshape(3, 4),
        -83.525, 43.025, (0.25, 0.25), epsg=4326, compress=True,
    )
    tif_grid = geotiff_glob_to_grid(spark, str(work / "*.tif"), "lai", year=2021)
    print("GeoTIFF granule decoded rows:", tif_grid.count())
    up = spatial_resample(tif_grid, resolution_factor=2.0, resample_method="lanczos")
    print("lanczos x2 upsample rows:", up.count())
    utm = transform_crs_udf(tif_grid, 4326, 32617)
    print("UTM eastings range:", utm.agg({"x": "min"}).first()[0].__round__(1),
          "-", utm.agg({"x": "max"}).first()[0].__round__(1))

    # 1. ingest: land a grid as year=/month=-partitioned parquet
    path = land_grid_parquet(grid_view(spark, sf_dir), str(work), "era5_like")
    DEFAULT_CATALOG.register("era5_like", path, ["t2m", "u100"])
    print(f"landed partitioned dataset at {path}")

    # 2. load with an AOI (the reference's get_xarray_dataset shape)
    bbox = get_bounding_box(coords=[(41.5, -83.3), (42.8, -79.2)])
    gf = get_dataset(
        spark, "era5_like", variables=["t2m"], bbox=bbox,
        start_time="1995-01-01", end_time="1996-12-31",
    )
    print("AOI rows:", gf.count(), "| variables:", gf.variables)

    # 3. transform: monthly means per cell, spatially collapsed series
    monthly = gf.temporal_resample("30D", agg_method="mean")
    series = gf.collapse_spatial("mean")
    print("monthly buckets:", monthly.df.select("time").distinct().count())
    print("collapsed series rows:", series.count())

    # 4. extract: wide (time x point) table at 3 off-grid points
    pts = points_df(spark, coords=[(41.63, -82.98), (42.88, -79.43), (41.85, -83.23)])
    wide = gf.points_to_table(pts, "t2m")
    print("extraction columns:", wide.columns)

    # 5. export GSSHA inputs
    gag = make_precipitation_input(
        gf.filter_time("1995-01-01", "1995-01-31").df, "t2m",
        file_dir=work, file_name="demo",
    )
    wes = make_hmet_wes(
        gf.filter_time("1995-01-01", "1995-01-31").df,
        {"t2m": "Dry Bulb Temperature"},
        file_dir=work, file_name="demo_wes",
    )
    print("GSSHA artifacts:", gag.name, wes.name)

    # 6. scale extensions: dedup + similarity
    from xarray_dataaccessor_spark.operators.dedup import minhash_near_duplicates
    from xarray_dataaccessor_spark.operators.similarity import cosine_topk

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs.select("doc_id", "text"))
    print("near-duplicate candidate pairs:", pairs.count())

    emb = load(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    topk = cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=3)
    print("similarity top-3:")
    for r in topk.collect():
        print(f"  query {r['query_id']} -> {r['neighbor_id']} (cos={r['cos']:.4f})")

    # 7. training-data curation: quality gate -> PII scrub -> split ->
    #    decontaminate -> pack into fixed-token training shards
    from xarray_dataaccessor_spark.operators.sampling import (
        deterministic_split,
        ngram_contamination,
        sequence_packing,
    )
    from xarray_dataaccessor_spark.operators.text import (
        gopher_repetition_signals,
        pii_scrub,
        token_counts,
    )

    corpus = docs.select("doc_id", "text")
    keep = gopher_repetition_signals(corpus).filter(F.col("keep")).select("doc_id")
    gated = corpus.join(keep, "doc_id")
    print("gopher quality gate kept:", gated.count(), "/", corpus.count())

    scrubbed = pii_scrub(gated).select("doc_id", F.col("scrubbed").alias("text"))
    split = deterministic_split(scrubbed, eval_per_mille=50)
    train = split.filter(F.col("split") == "train").drop("split")
    ev = split.filter(F.col("split") == "eval").drop("split")
    contaminated = ngram_contamination(train, ev).filter(F.col("contamination") > 0.5)
    clean = train.join(contaminated.select("doc_id"), "doc_id", "left_anti")
    packed = sequence_packing(
        token_counts(clean).select("doc_id", "bpe_tokens"), "bpe_tokens", budget=2048
    )
    n_packs = packed.select("pack_id").distinct().count()
    print(
        f"curated training set: {clean.count()} docs "
        f"({contaminated.count()} decontaminated) -> {n_packs} packs of <=2048 tokens"
    )

    # --- round-3 surfaces: real BPE, duplicate clusters, PQ ANN,
    #     overview pyramid, Z-ordered layout -------------------------
    from xarray_dataaccessor_spark.operators.tokenize import bpe_encode, bpe_train
    merges = bpe_train(clean, n_merges=80, max_words=5000)
    toks = bpe_encode(clean, merges)
    print("BPE:", len(merges), "merges; avg tokens/doc:",
          round(toks.agg(F.avg("n_tokens")).first()[0], 1))

    from xarray_dataaccessor_spark.operators.graph import duplicate_clusters
    clusters = duplicate_clusters(pairs.select("id_a", "id_b"))
    canon = clusters.filter(F.col("is_canonical")).count()
    print("duplicate clusters:", clusters.select("cluster_id").distinct().count(),
          "| canonical keepers:", canon)

    from xarray_dataaccessor_spark.operators.similarity import pq_ann
    emb = load(spark, sf_dir, "embeddings")
    pq = pq_ann(emb.filter(F.col("vec_id") < 2), emb, k=3, dims=64)
    print("PQ ANN top-3 (ADC + exact re-rank):")
    for r in pq.collect():
        print(f"  query {r['query_id']} -> {r['neighbor_id']} (cos={r['cos']:.4f})")

    from xarray_dataaccessor_spark.operators.spatial import raster_pyramid
    pyr = raster_pyramid(gf.df, levels=2, method="mean")
    print("overview pyramid cells/level:",
          {int(r["level"]): int(r["n"]) for r in
           pyr.groupBy("level").count().withColumnRenamed("count", "n").collect()})

    from xarray_dataaccessor_spark.operators.layout import cluster_spatially
    zdir = tempfile.mkdtemp(prefix="xda_zorder_")
    cluster_spatially(gf.df, n_files=4).write.mode("overwrite").parquet(zdir)
    print("Z-ordered grid landed:", spark.read.parquet(zdir).count(), "rows in 4 spatial tiles")

    # distributed JPEG decode (pure codec, baseline + progressive)
    import numpy as np

    from xarray_dataaccessor_spark.operators.multimodal import decode_image
    from xarray_dataaccessor_spark.sources.jpeg import (
        write_jpeg,
        write_jpeg_progressive,
    )
    yy, xx = np.mgrid[0:24, 0:32]
    im = (128 + 60 * np.sin(yy / 6.0) + 50 * np.cos(xx / 7.0)).clip(0, 255).astype("uint8")
    payloads = [(0, bytearray(write_jpeg(im, 85))),
                (1, bytearray(write_jpeg_progressive(im, 85)))]
    jd = decode_image(
        spark.createDataFrame(payloads, "doc_id bigint, payload binary"),
        codec="jpeg",
    ).collect()
    print("JPEG decode (baseline, progressive) mean pixels:",
          [round(r["mean_pixel"], 2) for r in sorted(jd, key=lambda r: r["doc_id"])],
          "| source mean:", round(float(im.mean()), 2))

    # sharded Zarr v3 store -> distributed shard-per-task ingest
    from xarray_dataaccessor_spark.sources.ingest import zarr_to_grid
    from xarray_dataaccessor_spark.sources.zarr import write_zarr
    zs = tempfile.mkdtemp(prefix="xda_shard_") + "/s.zarr"
    cube = 270.0 + np.arange(24)[:, None, None] * 0.1 \
        + np.arange(5)[None, :, None] * 0.01 + np.arange(9)[None, None, :] * 0.001
    write_zarr(zs, "t2m", cube, ["time", "latitude", "longitude"],
               chunks=[4, 4, 4], zarr_format=3, shards=[8, 8, 8], compressor="zlib")
    write_zarr(zs, "time", np.arange(24, dtype="i4") + 1043832, ["time"],
               attrs={"units": "hours since 1900-01-01 00:00:00"},
               compress=False, zarr_format=3)
    write_zarr(zs, "latitude", 42.883 - 0.25 * np.arange(5), ["latitude"],
               compress=False, zarr_format=3)
    write_zarr(zs, "longitude", -83.476 + 0.25 * np.arange(9), ["longitude"],
               compress=False, zarr_format=3)
    print("sharded Zarr v3 ingest rows:", zarr_to_grid(spark, zs, "t2m").count())

    # EASE-Grid 2.0 reprojection (closed-form equal-area CRS)
    from xarray_dataaccessor_spark.operators.crs import transform_grid
    ease = transform_grid(gf.df.select("x", "y").distinct(), 4326, 6933)
    print("EASE-Grid 2.0 x-range (m):",
          tuple(round(v) for v in ease.agg(F.min("x"), F.max("x")).first()))

    # FLAC audio: distributed decode + STFT features (pure codec)
    from xarray_dataaccessor_spark.operators.multimodal import audio_spectrogram
    from xarray_dataaccessor_spark.sources.flac import write_flac
    tone = (9000 * np.sin(2 * np.pi * 1000.0 * np.arange(16000) / 16000)).astype("int64")
    adf = spark.createDataFrame(
        [(0, bytearray(write_flac(tone, 16000, 16)))],
        "doc_id bigint, payload binary",
    )
    spec = audio_spectrogram(adf, codec="flac").collect()[0]
    print("FLAC -> spectrogram dominant Hz:", round(spec["dominant_hz"], 1),
          "(true 1000.0)")

    # zstd-compressed Zarr store through the same shard/chunk ingest
    zs2 = tempfile.mkdtemp(prefix="xda_zstd_") + "/z.zarr"
    write_zarr(zs2, "t2m", cube, ["time", "latitude", "longitude"],
               chunks=[8, 5, 9], compressor="zstd", zarr_format=3)
    write_zarr(zs2, "time", np.arange(24, dtype="i4") + 1043832, ["time"],
               attrs={"units": "hours since 1900-01-01 00:00:00"},
               compress=False, zarr_format=3)
    write_zarr(zs2, "latitude", 42.883 - 0.25 * np.arange(5), ["latitude"],
               compress=False, zarr_format=3)
    write_zarr(zs2, "longitude", -83.476 + 0.25 * np.arange(9), ["longitude"],
               compress=False, zarr_format=3)
    print("zstd Zarr ingest rows (pure RFC 8878 decoder):",
          zarr_to_grid(spark, zs2, "t2m").count())

    # round-5 surface: WebP-lossless decode, distilled quality
    # classifier, incremental dedup, distributed Zarr + GRIB2 sinks
    from xarray_dataaccessor_spark.sources.webp import write_webp
    wp = spark.createDataFrame(
        [(0, bytearray(write_webp(np.dstack([im, im, im]), use_lz77=True)))],
        "doc_id bigint, payload binary",
    )
    wrow = decode_image(wp, codec="webp").collect()[0]
    print("WebP (VP8L) decode mean pixel:", round(wrow["mean_pixel"], 2),
          "| source:", round(float(im.mean()), 2))

    from xarray_dataaccessor_spark.operators.classifier import (
        distill_quality_classifier,
    )
    from xarray_dataaccessor_spark.operators.text import (
        gopher_repetition_signals,
    )
    docs_txt = docs.select("doc_id", "text")
    gop = gopher_repetition_signals(docs_txt)
    lbl = gop.select("doc_id", F.col("keep").cast("double").alias("y"))
    sig = gop.select(
        "doc_id",
        F.explode(F.array(
            F.struct(F.lit(-2).cast("int").alias("bucket"),
                     F.col("top_word_frac").alias("x")),
            F.struct(F.lit(-3).cast("int").alias("bucket"),
                     F.col("unique_word_frac").alias("x")),
        )).alias("b"),
    ).select("doc_id", "b.bucket", "b.x")
    clf = distill_quality_classifier(docs_txt, lbl, n_buckets=32,
                                     extra_features=sig)
    agree = clf.join(lbl, "doc_id").select(
        F.avg((F.col("clf_keep").cast("double") == F.col("y")).cast("double"))
    ).first()[0]
    print(f"distilled quality classifier vs gopher verdict: {agree:.2f} agreement")

    from xarray_dataaccessor_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )
    state = tempfile.mkdtemp(prefix="xda_dedup_")
    build_dedup_state(docs_txt, state)
    batch = docs_txt.limit(20).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    inc = incremental_dedup(spark, batch, state)
    counts = {r["status"]: r["count"]
              for r in inc.groupBy("status").count().collect()}
    print("incremental dedup of a re-appended batch:", counts)

    from xarray_dataaccessor_spark.sinks.grib2_sink import grid_to_grib2
    from xarray_dataaccessor_spark.sinks.zarr_sink import grid_to_zarr
    from xarray_dataaccessor_spark.sources.ingest import grib_glob_to_grid
    small = zarr_to_grid(spark, zs2, "t2m")
    zout = tempfile.mkdtemp(prefix="xda_zsink_") + "/store"
    print("distributed Zarr sink:",
          grid_to_zarr(small, zout, "t2m", chunks=(8, 5, 9)))
    gout = tempfile.mkdtemp(prefix="xda_gsink_") + "/gribs"
    print("distributed GRIB2 sink:",
          grid_to_grib2(small, gout, "t2m", packing="complex_diff",
                        e_scale=-6))
    print("GRIB glob re-ingest rows:",
          grib_glob_to_grid(spark, gout + "/*.grib2", "t2m").count())

    from xarray_dataaccessor_spark.sinks.cog_sink import grid_to_cog
    cout = tempfile.mkdtemp(prefix="xda_cog_") + "/cogs"
    print("distributed COG sink:",
          grid_to_cog(small, cout, "t2m", tile_size=16, overview_levels=(2,)))

    # header-only media probes (the curation filters before any decode)
    from xarray_dataaccessor_spark.operators.multimodal import (
        audio_probe,
        probe_images,
    )
    from xarray_dataaccessor_spark.sources.media import write_mp3_frames
    mdf = spark.createDataFrame(
        [(0, bytearray(write_mp3_frames(25, kbps=128, vbr_alt_kbps=192)))],
        "doc_id long, payload binary",
    )
    ar = audio_probe(mdf).collect()[0]
    print(f"MP3 probe (no decode): {ar['duration_ms']}ms "
          f"~{ar['bitrate_kbps']:.0f}kbps vbr={ar['vbr']}")
    ir = probe_images(wp).collect()[0]
    print(f"image probe: {ir['fmt']} {ir['width']}x{ir['height']}")

    # exact substring dedup (Lee et al.) + mixture materialization
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup
    sd = substring_dedup(docs_txt, min_tokens=8)
    n_cut = sd.filter(F.col("n_removed") > 0).count()
    tok_cut = sd.agg(F.sum("n_removed")).first()[0]
    print(f"substring dedup: {n_cut} docs lose {tok_cut} tokens of "
          "repeated passages (first occurrence kept)")

    from xarray_dataaccessor_spark.operators.sampling import mixture_resample
    from xarray_dataaccessor_spark.operators.text import token_counts
    tk = token_counts(docs.select("doc_id", "source", "text")).select(
        "doc_id", "bpe_tokens"
    )
    base = docs.select("doc_id", "source").join(tk, "doc_id")
    srcs = [r[0] for r in base.select("source").distinct().collect()]
    wts = spark.createDataFrame(
        [(s, 1.0 / len(srcs)) for s in srcs], "source string, p double"
    )
    mix = mixture_resample(base, wts, "bpe_tokens", total_tokens=50_000)
    got = mix.agg(F.sum("bpe_tokens"), F.max("epoch")).first()
    print(f"mixture materializer: uniform target over {len(srcs)} sources "
          f"-> {got[0]} tokens, max epoch {got[1]} (small domains upsampled)")

    # lexical + hybrid retrieval: BM25 over the shared postings, a
    # persisted bucket-pruned index, and RRF fusion with a dense list
    from xarray_dataaccessor_spark.operators.retrieval import (
        bm25_topk, build_bm25_index, query_bm25_index, queries_df, rrf_fuse,
    )
    from xarray_dataaccessor_spark.operators.text import word_counts

    wc = word_counts(docs_txt)
    bq = queries_df(spark, {0: "hash join"})
    bm = bm25_topk(wc, bq, k=3)
    print("BM25 top-3 for 'hash join':",
          [(r["doc_id"], round(r["score"], 3)) for r in bm.collect()])
    with tempfile.TemporaryDirectory() as d:
        build_bm25_index(wc, f"{d}/ix", n_buckets=16)
        idx = query_bm25_index(spark, f"{d}/ix", {0: "hash join"}, k=3)
        assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, bm.collect()))
        print("persisted BM25 index probe matches in-plan scoring bit-exactly")
    from xarray_dataaccessor_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    dense = cosine_topk(
        emb.filter(F.col("vec_id") < 1), emb, k=3, dims=64
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    fused = rrf_fuse(dense, bm.select("query_id", "doc_id", "rk"), k=3)
    print("hybrid RRF top-3 (dense + BM25):",
          [(r["doc_id"], round(r["score"], 4)) for r in fused.collect()])

    # CCNet perplexity tiers: head/middle/tail by corpus LM fluency
    from xarray_dataaccessor_spark.operators.text import (
        bigram_lm_scores, perplexity_buckets,
    )
    tiers = perplexity_buckets(bigram_lm_scores(docs_txt)).groupBy(
        "ppl_tier"
    ).count().orderBy("ppl_tier").collect()
    print("CCNet perplexity tiers:",
          {r["ppl_tier"]: r["count"] for r in tiers})

    # PageRank centrality canonical election over the dup-pair graph
    from xarray_dataaccessor_spark.operators.graph import centrality_canonicals
    pr_edges = minhash_near_duplicates(docs_txt).filter(
        F.col("est_jaccard") >= 0.5
    ).select("id_a", "id_b")
    cc = centrality_canonicals(pr_edges, n_iters=3)
    print("centrality canonicals:",
          cc.filter("is_canonical").count(), "keepers across",
          cc.select("cluster_id").distinct().count(), "clusters")

    # zonal statistics over a polygon AOI (shapefile round trip)
    from xarray_dataaccessor_spark.catalog import (
        polygons_from_shapefile, write_shapefile_polygons,
    )
    from xarray_dataaccessor_spark.operators.spatial import zonal_stats
    gv = grid_view(spark, sf_dir)
    b = gv.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).first()
    tri = [[(b[0], b[2]), ((b[0] + b[1]) / 2, b[2]), (b[0], (b[2] + b[3]) / 2),
            (b[0], b[2])]]
    shp = str(work / "aoi.shp")
    write_shapefile_polygons(shp, [tri])
    zs = zonal_stats(gv.select("x", "y", "t2m"),
                     polygons_from_shapefile(shp), value_cols=["t2m"]).first()
    print(f"zonal stats (triangle AOI): {zs['n_cells']} cells, "
          f"mean t2m {zs['t2m']:.2f}")

    # web-corpus prep: HTML -> text -> overlapping chunks
    from xarray_dataaccessor_spark.operators.webprep import (
        chunk_documents, html_to_text, normalize_url,
    )
    wrapped = docs_txt.withColumn(
        "text", F.concat(F.lit("<p>"), "text", F.lit("</p><script>x()</script>")))
    n_chunks = chunk_documents(html_to_text(wrapped), chunk_tokens=64,
                               overlap=8).count()
    print("HTML -> text -> 64-token chunks (overlap 8):", n_chunks, "chunks")

    # PCA compaction of the embedding column (8 components)
    from xarray_dataaccessor_spark.operators.similarity import (
        pca_model, pca_project,
    )
    model = pca_model(emb, n_components=8, dims=64)
    var = sum(model[2])
    print(f"PCA: top-8 components, explained var {var:.4f}; "
          "projection is a pure codegen fold")
    pca_project(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        model).count()

    # terrain analytics: Horn derivatives + D8 watersheds on a surface
    from xarray_dataaccessor_spark.gridframe import GridFrame as _GF
    surf = gv.groupBy("x", "y").agg(F.avg("t2m").alias("t2m"))
    tf = _GF(surf)
    n_basins = tf.terrain("t2m", "watersheds").select(
        "sink_x", "sink_y").distinct().count()
    mean_slope = tf.terrain("t2m").agg(F.avg("slope_deg")).first()[0]
    print(f"terrain: mean Horn slope {mean_slope:.1f} deg; "
          f"D8 delineates {n_basins} basins")

    # streaming heavy hitters: sharded Misra-Gries in group state
    from xarray_dataaccessor_spark.streaming.events import (
        run_available_now, stream_events, stream_heavy_hitters,
    )
    hh = run_available_now(
        stream_heavy_hitters(stream_events(spark, sf_dir),
                             item_col="event_type", k=4, n_shards=4),
        output_mode="update", shuffle_partitions=4)
    top = sorted(hh.collect(), key=lambda r: -r["est_count"])[:3]
    print("streaming heavy hitters:",
          [(r["item"], r["est_count"]) for r in top])

    # sketch family: HLL distinct, Bloom membership, CMS frequency
    from xarray_dataaccessor_spark.operators.sketch import (
        bloom_build, bloom_contains_sql, bloom_keys, cms_build,
        cms_estimate_sql, hll_ndv,
    )
    ndv = hll_ndv(docs_txt, "text", p=10).first()["approx_ndv"]
    print(f"HLL: ~{ndv:.0f} distinct texts (64-register twin drives the "
          "oracle'd corpus report)")
    words_df = docs_txt.select(F.explode(F.split("text", " ")).alias("w"))
    bloom = bloom_build(words_df.limit(2000), "w", m_bits=8192, k=3)
    h1, h2 = bloom_keys(F.col("w"))
    probe = words_df.limit(50).select(
        "w", h1.alias("__h1"), h2.alias("__h2")
    )
    hits = probe.filter(F.expr(bloom_contains_sql("__h1", "__h2", bloom))).count()
    print(f"Bloom: {hits}/50 member probes hit (no false negatives by law)")
    cms = cms_build(words_df, "w", w=512, d=3)
    est = spark.createDataFrame([("the",)], "word string").selectExpr(
        cms_estimate_sql("word", cms) + " AS e").first()["e"]
    print(f"CMS: est count('the') = {est} from 3x512 counters")

    # area-weighted zonal mean (exactextract semantics) + flow accumulation
    wz = tf.zonal_stats(polygons=[tri], weighted=True, per_time=False).first()
    print(f"weighted zonal: {wz['covered_cells']:.2f} covered cells "
          f"(fractional), mean t2m {wz['t2m']:.2f}")
    acc = tf.terrain("t2m", "accumulation")
    mx = acc.agg(F.max("flow_acc")).first()[0]
    print(f"flow accumulation: largest drainage {mx} cells "
          "(Euler-tour ranking, O(log path) rounds)")

    # mergeable bottom-k sample: quantiles + a fixed-size weighted
    # sample whose Horvitz-Thompson totals reconstruct the stratum mass
    from xarray_dataaccessor_spark.operators.sampling import priority_sample
    from xarray_dataaccessor_spark.operators.sketch import (
        bottomk_quantiles, bottomk_sample,
    )
    lens = docs_txt.selectExpr(
        "doc_id", "CAST(length(text) AS BIGINT) AS n_chars")
    bq = bottomk_quantiles(
        bottomk_sample(lens, "n_chars", ["doc_id"], k=128),
        "n_chars").first()
    print(f"bottom-k sketch: doc-length p50~{bq['q5']:.0f} "
          f"p95~{bq['q95']:.0f} from a {bq['k_used']}-row mergeable sample")
    ps = priority_sample(lens, "n_chars", k=32).limit(1).first()
    print(f"priority sample: 32 weighted rows estimate "
          f"{ps['est_total']:.0f} of {ps['exact_total']:.0f} total chars "
          f"({100 * ps['est_total'] / ps['exact_total']:.1f}%)")

    # versioned dataset: append-only manifests, time travel, compaction
    from xarray_dataaccessor_spark.sinks.versioned import (
        append_versioned, compact_versioned, list_versions,
        read_versioned, write_versioned,
    )
    vpath = tempfile.mkdtemp(prefix="xda_demo_ds_") + "/corpus"
    write_versioned(docs_txt.limit(300), vpath)
    append_versioned(docs_txt.filter(F.col("doc_id") >= 300), vpath)
    compact_versioned(spark, vpath)
    n_now = read_versioned(spark, vpath).count()
    n_v0 = read_versioned(spark, vpath, version=0).count()
    print(f"versioned dataset: versions {list_versions(vpath)}, "
          f"latest {n_now} docs, time-travel v0 {n_v0} docs")

    # first-class Spark data sources: write a real granule, read it back
    # with spark.read.format(...) — record-range partitions + pushdown
    import numpy as np

    from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3
    from xarray_dataaccessor_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    gdir = tempfile.mkdtemp(prefix="xda_demo_nc_")
    write_netcdf3(
        os.path.join(gdir, "era5like.nc"),
        {"time": 48, "y": 4, "x": 6},
        {
            "time": (["time"], np.arange(48, dtype="f8"),
                     {"units": "hours since 2024-01-01"}),
            "y": (["y"], 40.0 + np.arange(4.0), {}),
            "x": (["x"], -80.0 + np.arange(6.0), {}),
            "t2m": (["time", "y", "x"],
                    270.0 + np.arange(48 * 4 * 6, dtype="f8").reshape(48, 4, 6) % 25,
                    {}),
        },
        record_dim="time",
    )
    nc = (
        spark.read.format("netcdf")
        .option("target_partition_bytes", 2048)
        .option("assume_sorted_time", "true")
        .load(gdir)
        .filter("time >= timestamp'2024-01-02 00:00:00'")
    )
    print(f"netcdf data source: day-2 mean t2m "
          f"{nc.agg(F.avg('t2m')).first()[0]:.2f} K over {nc.count()} cells "
          f"({nc.rdd.getNumPartitions()} record-range tasks after pruning)")


if __name__ == "__main__":
    main()
