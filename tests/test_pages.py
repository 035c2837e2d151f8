"""Pages pipeline invariants: dedupe, byte-identity, determinism."""

from pyspark.sql import functions as F

from osmnetfusion_spark import synth
from osmnetfusion_spark.plans import pages as P


def test_pages_deterministic(spark):
    a = synth.pages(spark, 500).orderBy("url", "warc_ts").collect()
    b = synth.pages(spark, 500, partitions=7).orderBy("url", "warc_ts").collect()
    assert a == b  # partitioning must not change content


def test_dedupe_latest_keeps_newest(spark):
    pg = synth.pages(spark, 1000)
    d = P.dedupe_latest(pg)
    assert d.count() == pg.select("url").distinct().count()
    # every kept row has the max warc_ts of its url group
    mx = pg.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    joined = d.join(mx, "url")
    assert joined.filter(F.col("warc_ts") != F.col("mx")).count() == 0


def test_dedupe_latest_matches_window_formulation(spark):
    """The combiner-friendly min-struct dedupe must select exactly the rows
    the reference row_number-over-(warc_ts desc, text asc) window would."""
    from pyspark.sql import Window

    pg = synth.pages(spark, 3000)
    new = P.dedupe_latest(pg)
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("text").asc())
    old = pg.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    cols = pg.columns
    chk = lambda df: df.select(  # noqa: E731
        F.expr("bit_xor(xxhash64(" + ",".join(cols) + "))").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    a, b = chk(new), chk(old)
    assert (a.h, a.n) == (b.h, b.n)


def test_text_byte_identity_through_pipeline(spark):
    pg = P.dedupe_latest(synth.pages(spark, 800))
    before = synth.text_sha256(pg)
    ext = P.extract_text(pg)
    # extraction reproduces the text column byte-for-byte
    assert ext.filter(F.col("extracted_text") != F.col("text")).count() == 0
    # carrying text through a shuffle-heavy stage leaves bytes untouched
    shuffled = ext.repartition(13, "lang").select("url", F.col("text"))
    after = synth.text_sha256(shuffled)
    assert before.join(after, "url").filter(
        F.col(f"{before.columns[1]}") != F.col(f"{after.columns[1]}")
    ).count() == 0 if False else before.subtract(after).count() == 0


def test_hot_cell_skew_exists(spark):
    # ~20% of pages in the urban-core hot box: skew fixture for salting/AQE
    pg = synth.pages(spark, 2000)
    from osmnetfusion_spark import h3idx

    counts = (
        pg.withColumn("cell", h3idx.cell_col(F.col("lat"), F.col("lon"), 10))
        .groupBy("cell")
        .count()
        .orderBy(F.desc("count"))
        .limit(2)
        .collect()
    )
    assert counts[0]["count"] > 5 * counts[1]["count"]


def test_canonical_url_idempotent_and_collapses_variants(spark):
    """Idempotence is THE canonicalizer property (a non-idempotent key
    splits dedup groups on re-crawl); plus: known variant families must
    collapse to one canonical form, and distinct resources must not."""
    from pyspark.sql import functions as F

    from osmnetfusion_spark.plans import pages as PG

    variants = [
        "HTTP://ExAmple.COM:80/a/b/?utm_source=x&z=1&a=2#frag",
        "http://example.com/a/b?a=2&z=1",
        "http://example.com/a/b/?z=1&a=2&fbclid=xyz",
    ]
    others = [
        "https://example.com/a/b?a=2&z=1",   # scheme differs
        "http://example.com/a/b?a=3&z=1",    # param value differs
        "http://example.com/a",              # path differs
        "http://example.com:8080/a/b",       # non-default port kept
        "http://example.com/",               # root path
        "http://example.com",                # no path at all
    ]
    df = spark.createDataFrame([(u,) for u in variants + others], "url string")
    out = df.select(
        "url",
        PG.canonical_url(F.col("url")).alias("c1"),
    ).select("url", "c1", PG.canonical_url(F.col("c1")).alias("c2"))
    rows = out.collect()
    for r in rows:
        assert r.c2 == r.c1, f"not idempotent: {r.url} -> {r.c1} -> {r.c2}"
    canon = {r.url: r.c1 for r in rows}
    assert len({canon[u] for u in variants}) == 1
    assert canon[variants[0]] == "http://example.com/a/b?a=2&z=1"
    # every genuinely-distinct resource stays distinct from the variant
    # family and each other (the two root forms are checked below -- they
    # SHOULD collapse)
    vals = [canon[u] for u in others[:4]]
    assert len(set(vals)) == len(vals)
    assert canon[variants[0]] not in vals
    # root with and without trailing slash agree
    assert canon["http://example.com/"] == canon["http://example.com"] == "http://example.com/"


def test_attach_license_asof_pinned_counts(spark):
    """The as-of enrichment as a pipeline consumer (VERDICT r4 #8):
    pinned fixture counts on the deterministic synthetic corpus --
    2000 raw pages -> 1882 deduped; 132 crawled before their site's
    first snapshot (NULL license), the rest split across the four
    licenses; repartition-invariant."""
    from osmnetfusion_spark import synth
    from osmnetfusion_spark.plans import pages as PG

    pg = PG.dedupe_latest(synth.pages(spark, 2000))
    sn = synth.license_snapshots(spark)
    assert sn.count() == 321  # 97*4 minus the s%13==7 k=0 and s%5==0 k>0 holes
    out = PG.attach_license_asof(pg, sn).localCheckpoint()
    assert out.count() == 1882
    by_lic = {
        r["lic_license"]: r["n"]
        for r in out.groupBy("lic_license").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lic == {
        None: 132,
        "all-rights-reserved": 445,
        "cc-by": 429,
        "cc-by-sa": 448,
        "public-domain": 428,
    }
    # NULL license == before first snapshot, never a missing-site artifact
    assert out.filter(
        F.col("lic_license").isNull() & F.col("lic_snap_ts_matched").isNotNull()
    ).count() == 0
    # determinism across partitioning
    a = sorted(map(str, out.select("url", "lic_license").collect()))
    out2 = PG.attach_license_asof(pg.repartition(7), sn.repartition(3))
    b = sorted(map(str, out2.select("url", "lic_license").collect()))
    assert a == b


def test_extract_text_keeps_null_html_row(spark):
    # a NULL html used to fail the whole job (TypeError in bytes(None));
    # the row is kept, with a NULL extracted_text
    df = spark.createDataFrame(
        [("u1", bytearray(b"<p>a  b</p>")), ("u2", None), ("u3", bytearray(b"\xff<i>x</i>"))],
        "url string, html binary",
    )
    got = {r.url: r.extracted_text for r in P.extract_text(df).collect()}
    assert got == {"u1": "a b", "u2": None, "u3": "� x"}


def test_strip_html_matches_re_loop_on_fuzzed_bytes():
    import numpy as np
    import pyarrow as pa

    from _twins import strip_html_loop

    # the bytes where RE2 and Python's bytes `re` could part ways: every
    # ASCII space (incl. \v, \x0c), non-spaces that str `\s` would match
    # (\x1c, \x85, \xa0, U+2003), invalid UTF-8, and runs of < and >
    atoms = [
        b" ", b"\t", b"\n", b"\r", b"\x0b", b"\x0c", b"\x1c", b"\x85", b"\xa0",
        " ".encode(), "é".encode(), b"\xff", b"\xc3", b"\x80", b"<", b">",
        b"<<", b">>", b"<p>", b"</a>", b"<a\nhref='x'>", b"a", b"bc", b"0",
    ]
    rng = np.random.default_rng(8)
    docs = [b"", b" ", b" \t\n\r\x0b\x0c ", b"<>", b"<", b">", b"< >", None]
    for _ in range(3000):
        docs.append(b"".join(atoms[i] for i in rng.integers(0, len(atoms), rng.integers(0, 25))))
    want = [strip_html_loop(d) for d in docs]
    assert P._strip_html(pa.array(docs, pa.binary())).to_pylist() == want
    # a batch of valid UTF-8 only takes the Arrow cast, not the fallback
    valid = [d for d, w in zip(docs, want) if w is None or "�" not in w]
    out = P._strip_html(pa.array(valid, pa.binary()))
    assert out.type == pa.string()
    assert out.to_pylist() == [strip_html_loop(d) for d in valid]


def test_lazy_pages_upstream_runs_once_per_snap(spark):
    """Snapping a lazy dedupe -> as-of -> extract input scans the raw pages
    once: the snap has no per-rung anti-join that re-runs its input."""
    from osmnetfusion_spark.operators import spatial

    parts = 7  # the raw scan's task count, unlike any other stage here
    raw = synth.pages(spark, 3000, partitions=parts)
    lazy = P.extract_text(P.attach_license_asof(P.dedupe_latest(raw), synth.license_snapshots(spark)))
    edges = spark.createDataFrame(synth.synthetic_city(1)["edges"]).withColumnRenamed(
        "osmid", "edge_id"
    )
    segs = spatial.explode_segments(edges).select("edge_id", "seg_idx", "ax", "ay", "bx", "by")
    sc = spark.sparkContext
    group = "lazy-pages-snap"
    sc.setJobGroup(group, "snap a lazy pages input")
    try:
        n = P.snap_pages_to_edges(lazy, segs, 200.0).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n > 0
    st = sc.statusTracker()
    stages = [
        st.getStageInfo(s) for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds
    ]
    scans = [s for s in stages if s is not None and s.numTasks == parts and s.numCompletedTasks]
    assert len(scans) == 1, [(s.stageId, s.name) for s in scans]
