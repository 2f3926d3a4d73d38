"""Incremental dedup contract: processing shard-by-shard against the
accumulated fingerprint table reproduces one-shot exact dedup."""

from pyspark.sql import functions as F

from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
    exact_dedup,
    incremental_dedup,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_two_shards_equal_one_shot(spark):
    shard1 = _df(spark, [
        (0, "alpha beta"), (1, "gamma delta"), (2, "ALPHA   beta"),  # 2 dups 0
    ])
    shard2 = _df(spark, [
        (10, "gamma delta"),       # dup of shard1's doc 1 -> dropped
        (11, "epsilon zeta"),      # fresh
        (12, "epsilon  ZETA"),     # dup of 11 within shard -> dropped
        (13, "eta theta"),         # fresh
    ])
    empty_fps = spark.createDataFrame([], "fingerprint string")

    s1, fps1 = incremental_dedup(shard1, empty_fps)
    s2, fps2 = incremental_dedup(shard2, fps1)

    surv_ids = sorted(
        [r["doc_id"] for r in s1.collect()] + [r["doc_id"] for r in s2.collect()]
    )
    one_shot = exact_dedup(shard1.unionByName(shard2))
    canonical = sorted(r["canonical_id"] for r in one_shot.collect())
    assert surv_ids == canonical == [0, 1, 11, 13]

    # accumulated fingerprint table covers the whole corpus
    all_fps = {r["fingerprint"] for r in fps1.unionByName(fps2).collect()}
    assert all_fps == {r["fingerprint"] for r in one_shot.collect()}


def test_anti_join_streams_corpus_side(spark):
    """Plan gate: the arriving shard is the big relation -- the anti join
    must be a hash join (broadcast or shuffled), never a nested loop."""
    shard = _df(spark, [(1, "a b"), (2, "c d")])
    seen = _df(spark, [(0, "a b")]).select(
        F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )
    survivors, _ = incremental_dedup(shard, seen)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_near_dedup_shard_loop(spark):
    """Near-dup CDC: shard B checked against shard A's persisted band
    buckets. A case/whitespace variant of an already-seen doc (identical
    normalized shingles -> identical signature -> bucket hit) is dropped
    without re-signaturing the corpus; a fresh doc survives; a within-
    shard variant pair collapses to its min id. Re-running the shard
    against its own updated bucket table yields zero survivors
    (idempotence -- same contract as the exact incremental loop)."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_band_buckets,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten"
    shard_a = spark.createDataFrame(
        [(1, base), (2, "completely different words live here okay")],
        "doc_id long, text string",
    )
    seen = minhash_band_buckets(shard_a)

    shard_b = spark.createDataFrame(
        [
            (10, base.upper().replace(" ", "   ")),  # seen via bucket hit
            (11, fresh),                             # genuinely new
            (12, fresh.upper()),                     # within-shard variant of 11
        ],
        "doc_id long, text string",
    )
    survivors, new_buckets = incremental_near_dedup(shard_b, seen)
    assert [r["doc_id"] for r in survivors.collect()] == [11]
    nb = new_buckets.collect()
    # the dropped within-shard member 12 persists its buckets too
    # (transitive coverage for future shards)
    assert {r["doc_id"] for r in nb} == {11, 12}
    assert len(nb) == 8  # one row per band per persisted doc
    # appendix schema identical to the bootstrap table: one plain union
    # maintains the running bucket table
    assert new_buckets.columns == seen.columns

    # idempotence: the same shard against seen + its own appendix drains
    seen2 = seen.union(new_buckets)
    again, more = incremental_near_dedup(shard_b, seen2)
    assert again.count() == 0
    assert more.count() == 0
    # determinism under a re-shard of the arriving data
    survivors2, _ = incremental_near_dedup(shard_b.repartition(7), seen)
    assert [r["doc_id"] for r in survivors2.collect()] == [11]

    # direct shape: a singleton canonical whose own buckets hit seen is
    # dropped while an unrelated doc survives
    shard_c = spark.createDataFrame(
        [(20, fresh + " extra tail words here"), (21, base)],
        "doc_id long, text string",
    )
    surv_c, _ = incremental_near_dedup(shard_c, seen)
    assert {r["doc_id"] for r in surv_c.collect()} == {20}

    # identical-pair shape: one cluster whose canonical hits seen
    # directly -- both members gone
    shard_d = spark.createDataFrame(
        [(40, base.upper()), (41, base + " ")],
        "doc_id long, text string",
    )
    surv_d, nb_d = incremental_near_dedup(shard_d, seen)
    assert surv_d.count() == 0 and nb_d.count() == 0


def test_incremental_near_dedup_member_hit_drops_canonical(spark):
    """The DISCRIMINATING case for the member-hit lift (a canonical-only
    probe passes every other test in this file): cluster {X, Y} where X
    (the min-id canonical) shares a band bucket with Y but NONE with the
    corpus, while Y shares a bucket with seen doc S. X ~ Y ~ S, so the
    whole cluster must go -- under canonical-only probing X would survive
    and the output corpus would hold two docs of one near-dup class. The
    texts were searched offline against the md5mix banding so the three
    precondition assertions are deterministic."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_band_buckets,
    )

    S = "red orange yellow green blue indigo violet pink brown black white gray"
    Y = "red w2 yellow green blue indigo violet pink brown black white gray"
    X = "red w2 yellow green v2_0 indigo violet pink brown black white gray"

    seen = minhash_band_buckets(
        spark.createDataFrame([(1, S)], "doc_id long, text string")
    )
    shard = spark.createDataFrame(
        [(100, X), (200, Y)], "doc_id long, text string"  # X = canonical
    )
    sb = minhash_band_buckets(shard)
    # preconditions that make this case discriminating
    bb = {r["doc_id"]: set() for r in sb.collect()}
    for r in sb.collect():
        bb[r["doc_id"]].add((r["band"], r["bucket"]))
    sB = {(r["band"], r["bucket"]) for r in seen.collect()}
    assert bb[100] & bb[200], "X and Y must pair within the shard"
    assert not (bb[100] & sB), "X (canonical) must NOT hit the corpus"
    assert bb[200] & sB, "Y (member) must hit the corpus"

    survivors, new_buckets = incremental_near_dedup(shard, seen)
    assert survivors.count() == 0, "member hit must drop the whole cluster"
    assert new_buckets.count() == 0


def test_cluster_persist_covers_dropped_member_transitively(spark):
    """The DISCRIMINATING case for persisting every member of a surviving
    cluster: shard 1 holds cluster {X (canonical), Y} with nothing in the
    corpus; a later shard brings S where S ~ Y but S shares NO bucket with
    X. Batch connected components would put S in X's component and drop
    it. Persisting survivors only would keep X's buckets alone and admit S
    -- a recall loss; persisting the cluster keeps Y's buckets and S is
    dropped. Reuses the offline-searched X~Y~S md5mix chain whose bucket
    preconditions are asserted in
    test_incremental_near_dedup_member_hit_drops_canonical."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_band_buckets,
    )

    S = "red orange yellow green blue indigo violet pink brown black white gray"
    Y = "red w2 yellow green blue indigo violet pink brown black white gray"
    X = "red w2 yellow green v2_0 indigo violet pink brown black white gray"

    empty_seen = minhash_band_buckets(
        spark.createDataFrame([], "doc_id long, text string")
    )
    shard1 = spark.createDataFrame(
        [(100, X), (200, Y)], "doc_id long, text string"
    )
    shard2 = spark.createDataFrame([(300, S)], "doc_id long, text string")

    surv1, nb1 = incremental_near_dedup(shard1, empty_seen)
    assert [r["doc_id"] for r in surv1.collect()] == [100]
    assert {r["doc_id"] for r in nb1.collect()} == {100, 200}
    surv2, _ = incremental_near_dedup(shard2, empty_seen.union(nb1))
    assert surv2.count() == 0


def test_bucketed_fps_table_no_corpus_shuffle(spark, tmp_path):
    """The bucketed fingerprint table (write_fingerprint_table): the
    anti-join reads the corpus-sized state side WITHOUT an Exchange
    (`Bucketed: true` scan feeds the SortMergeJoin directly; only the
    shard side shuffles), survivors equal the plain-parquet path, and
    append_fingerprints updates the table in place (a rerun of the same
    shard then drains to 0)."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        append_fingerprints,
        normalized,
        write_fingerprint_table,
    )

    table = "fps_t_" + tmp_path.name.replace("-", "_")
    corpus = _df(spark, [(i, f"corpus doc {i} body") for i in range(50)])
    fps = corpus.select(F.md5(normalized(F.col("text"))).alias("fingerprint"))
    shard = _df(
        spark,
        [(100 + i, f"corpus doc {i} body") for i in range(10)]   # 10 seen
        + [(200 + i, f"fresh doc {i} body") for i in range(5)],  # 5 new
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_fingerprint_table(fps, table, n_buckets=8, mode="overwrite")
        # disable broadcast so the toy-scale plan shows the at-scale SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        surv, new_fps = incremental_dedup(shard, spark.table(table))
        want = sorted(
            r["doc_id"]
            for r in incremental_dedup(shard, fps)[0].collect()
        )
        assert sorted(r["doc_id"] for r in surv.collect()) == want
        assert want == [200, 201, 202, 203, 204]

        # inspect the EXECUTED (AQE-final) plan
        plan = surv._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final
        assert "SortMergeJoin" in final and "LeftAnti" in final
        # exactly ONE Exchange in the anti-join subtree: the shard side
        join_seg = final[final.index("SortMergeJoin"):]
        assert join_seg.count("Exchange hashpartitioning") == 1

        append_fingerprints(new_fps, table, n_buckets=8)
        again, _ = incremental_dedup(shard, spark.table(table))
        assert again.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_fps_table_append_validates_bucket_spec(spark, tmp_path):
    """Appending with a different bucket count must fail loudly (Spark
    validates the spec) -- the count is fixed for the table's lifetime."""
    import pytest
    from pyspark.errors import AnalysisException

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        write_fingerprint_table,
    )

    table = "fps_spec_" + tmp_path.name.replace("-", "_")
    fps = spark.createDataFrame([("ab",), ("cd",)], "fingerprint string")
    try:
        write_fingerprint_table(fps, table, n_buckets=4, mode="overwrite")
        with pytest.raises(AnalysisException):
            write_fingerprint_table(fps, table, n_buckets=8, mode="append")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_probe_method_streams_corpus_map_only(spark):
    """method='probe' (the CDC fast path): value-identical to the join
    method, and the plan streams the corpus side map-only -- both
    cross-corpus joins are broadcast (shard fps out, hit set back), no
    SortMergeJoin, and the ONLY hash-partitioning exchange is the shard's
    own collapse aggregate."""
    import pytest

    corpus = _df(spark, [(i, f"corpus doc {i} body") for i in range(50)])
    fps = corpus.select(F.md5(F.lower(F.col("text"))).alias("fingerprint"))
    shard = _df(
        spark,
        [(100 + i, f"corpus doc {i} body") for i in range(10)]
        + [(200 + i, f"fresh doc {i} body") for i in range(5)]
        + [(300, "fresh doc 0 body")],  # within-shard dup of 200
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable AUTO broadcast: the probe's explicit hints must carry
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        surv_p, fps_p = incremental_dedup(shard, fps, method="probe")
        surv_j, _ = incremental_dedup(shard, fps, method="join")
        got_p = sorted(r["doc_id"] for r in surv_p.collect())
        assert got_p == sorted(r["doc_id"] for r in surv_j.collect())
        assert got_p == [200, 201, 202, 203, 204]
        assert fps_p.count() == 5

        plan = surv_p._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final
        assert final.count("BroadcastHashJoin") == 2
        # ZERO hash exchanges in the result plan: the shard collapse
        # executes once inside the lazily-checkpointed subplan (shared by
        # the probe and the anti-join), and both cross-corpus joins are
        # broadcast -- the corpus side never shuffles
        assert final.count("Exchange hashpartitioning") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    with pytest.raises(ValueError, match="method"):
        incremental_dedup(shard, fps, method="bogus")


def test_incremental_dedup_url_key(spark):
    """key='url': the recrawl CDC -- a shard is deduped against every
    canonical URL the corpus ever kept; unparseable URLs dedup among
    themselves on a salted content hash, never on a shared NULL."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_dedup,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators.urls import (
        normalize_url,
    )

    corpus = spark.createDataFrame(
        [(0, "https://a.com/x", "seen x"), (1, "https://b.org/y", "seen y")],
        "doc_id bigint, url string, text string",
    )
    seen = corpus.select(
        F.md5(normalize_url(F.col("url"))).alias("fingerprint")
    )
    shard = spark.createDataFrame(
        [
            (10, "https://WWW.A.com/x?utm_source=s", "recrawl of x"),  # seen
            (11, "https://c.net/z", "fresh page z"),
            (12, "https://c.net/z/", "same canonical as 11"),           # in-shard dup
            (13, "not a url", "garbage one"),
            (14, "also not", "garbage one"),   # same TEXT as 13 -> content dup
            (15, "nope", "garbage two"),       # different text -> survives
        ],
        "doc_id bigint, url string, text string",
    )
    surv, new_fps = incremental_dedup(shard, seen, key="url")
    got = sorted(r["doc_id"] for r in surv.collect())
    assert got == [11, 13, 15]
    assert new_fps.count() == 3
    # drain: the appended fingerprints catch a rerun of the same shard
    surv2, _ = incremental_dedup(
        shard, seen.unionByName(new_fps), key="url"
    )
    assert surv2.count() == 0
    with pytest.raises(ValueError, match="key"):
        incremental_dedup(shard, seen, key="bogus")


def test_fps_key_stamp_validates(spark, tmp_path):
    """The fingerprint state table is stamped with its key space; a key
    switch between shard runs fails loudly instead of silently admitting
    every seen document. Legacy (un-stamped) tables read as 'content'."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        check_stamps,
        write_fingerprint_table,
    )

    table = "fps_k_" + tmp_path.name.replace("-", "_")
    fps = spark.createDataFrame([("ab",)], "fingerprint string")
    try:
        write_fingerprint_table(fps, table, n_buckets=4, mode="overwrite",
                                key="url")
        seen = spark.table(table)
        check_stamps(seen, {"fp_key": "url"})  # matching key passes
        with pytest.raises(ValueError, match="fp_key"):
            check_stamps(seen, {"fp_key": "content"})
        # an INVALID key against a stamped table fails as "invalid key",
        # not as a confusing stamp mismatch (key validated first)
        shard = spark.createDataFrame(
            [(1, "t", "https://a.com/x")], "doc_id bigint, text string, url string"
        )
        with pytest.raises(ValueError, match="must be 'content' or 'url'"):
            incremental_dedup(shard, seen, key="bogus")
        # legacy fingerprint-only schema = UNKNOWN provenance (pre-stamp
        # state exists under BOTH keys -- the url key predates the stamp),
        # so it passes either key; validation begins at the first stamped
        # append (the hash_family/banding posture)
        legacy = spark.createDataFrame([("cd",)], "fingerprint string")
        check_stamps(legacy, {"fp_key": "content"})
        check_stamps(legacy, {"fp_key": "url"})
        # a NULL stamp (mixed legacy+stamped dir under mergeSchema) also
        # passes -- never a false error on a valid accumulated state dir
        mixed = spark.createDataFrame(
            [("ef", None)], "fingerprint string, fp_key string"
        )
        check_stamps(mixed, {"fp_key": "url"})
        # round 7: a legacy-NULL row that SORTS/SAMPLES first must not mask
        # a mismatched stamped append -- validation is against the distinct
        # non-NULL stamp set, not one sampled row
        masked = spark.createDataFrame(
            [("aa", None), ("bb", None), ("cc", "url")],
            "fingerprint string, fp_key string",
        ).coalesce(1)  # one partition => head() would see the NULL row first
        assert masked.select("fp_key").head()[0] is None  # the masking shape
        check_stamps(masked, {"fp_key": "url"})
        with pytest.raises(ValueError, match="fp_key"):
            check_stamps(masked, {"fp_key": "content"})
        # two different non-NULL stamps = polluted table: fails either way.
        # Validation is a FOREIGN-stamp probe (fp_key != key, so parquet
        # row-group stats prune every healthy file): under either appended
        # key exactly one foreign stamp shows, under a third key both do
        polluted = spark.createDataFrame(
            [("aa", "url"), ("bb", "content")],
            "fingerprint string, fp_key string",
        )
        for k in ("url", "content"):
            with pytest.raises(ValueError, match="fp_key"):
                check_stamps(polluted, {"fp_key": k})
        with pytest.raises(ValueError, match="MULTIPLE"):
            check_stamps(polluted, {"fp_key": "sha1"})
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_corpus_diff_both_modes_vs_duckdb(spark):
    """Snapshot diff: per-id statuses and the id-free content set diff both
    equal an independent DuckDB replay (union + group + case); the summary
    dict is the bounded rollup; invalid mode fails loudly."""
    import duckdb
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        corpus_diff,
        corpus_diff_summary,
    )

    old_rows = [(i, f"stable document {i} body") for i in range(8)]
    new_rows = (
        [(i, f"stable document {i} body") for i in range(6)]      # 0-5 kept
        + [(4, "stable  DOCUMENT 4 body"),]                        # dup id, same normalized content
        + [(6, "rewritten document six entirely")]                 # changed
        # 7 removed
        + [(100, "brand new document"), (101, "another new one")]  # added
    )
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(old, new).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE o(doc_id BIGINT, text VARCHAR)")
    con.execute("CREATE TABLE n(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO o VALUES (?, ?)", old_rows)
    con.executemany("INSERT INTO n VALUES (?, ?)", new_rows)
    oracle = dict(con.sql(
        """
        WITH u AS (
          SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) fp,
                 'old' side FROM o
          UNION ALL
          SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))),
                 'new' FROM n
        ), g AS (
          SELECT doc_id,
                 max(CASE WHEN side = 'old' THEN fp END) ofp,
                 max(CASE WHEN side = 'new' THEN fp END) nfp
          FROM u GROUP BY doc_id
        )
        SELECT doc_id, CASE WHEN ofp IS NULL THEN 'added'
                            WHEN nfp IS NULL THEN 'removed'
                            WHEN ofp = nfp THEN 'unchanged'
                            ELSE 'changed' END
        FROM g
        """
    ).fetchall())
    assert got == oracle
    # the shape is binding: every status present, the dup-id row collapses
    # to its side's max fingerprint (same normalized content -> unchanged)
    assert got[4] == "unchanged" and got[6] == "changed"
    assert got[7] == "removed" and got[100] == "added" and got[0] == "unchanged"

    by_content = {
        r["fingerprint"]: (r["n_old"], r["n_new"], r["status"])
        for r in corpus_diff(old, new, by="content").collect()
    }
    n_added = sum(1 for v in by_content.values() if v[2] == "added")
    n_removed = sum(1 for v in by_content.values() if v[2] == "removed")
    # content view: doc 6's old body vanished, doc 7 vanished; the new body
    # of 6 and the two new docs appeared; doc 4's dup-id capture is the
    # SAME content so it lands in 'common' with n_new=2 -- pinned on the
    # SPECIFIC fingerprint, not an existence scan
    assert n_added == 3 and n_removed == 2
    import hashlib

    fp4 = hashlib.md5(b"stable document 4 body").hexdigest()
    assert by_content[fp4] == (1, 2, "common")

    assert corpus_diff_summary(old, new) == {
        "unchanged": 6, "changed": 1, "removed": 1, "added": 2
    }
    with pytest.raises(ValueError, match="by"):
        corpus_diff(old, new, by="bogus")


def test_corpus_diff_null_text_presence(spark):
    """NULL text must not flip PRESENCE: a doc whose new capture failed
    extraction (text NULL) is CHANGED, not removed; NULL on both sides is
    unchanged; a NULL-text doc that truly vanishes is removed."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        corpus_diff,
    )

    old = spark.createDataFrame(
        [(1, "body one"), (2, None), (3, None), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (3, "recovered body")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "changed", 2: "unchanged", 3: "changed", 4: "removed"}
