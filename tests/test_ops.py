"""Invariant tests for the training-data ops at sf0.001 (full value-level
oracle parity runs in tools/check_correctness.py and the driver gate at
sf0.01; these assert the structural guarantees)."""

import pytest

from progquery_spark.ops import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_dedup_exact_marks_clones(spark):
    import pyspark.sql.functions as F

    from progquery_spark.session import register_sf_views

    register_sf_views(spark, SF)
    # clone ids are corpus-relative: doc_id + max(doc_id) + 1
    off = spark.table("documents").agg(F.max("doc_id")).collect()[0][0] + 1
    out = dedup.q_dedup_exact(spark, SF)
    rows = {r["doc_id"]: (r["keeper_id"], r["is_dup"]) for r in out.collect()}
    clones = [d for d in rows if d >= off]
    assert clones, "clone construction produced no dups"
    for c in clones:
        keeper, is_dup = rows[c]
        assert is_dup and keeper == c - off
    originals = [d for d in rows if d < off]
    assert all(not rows[d][1] for d in originals)


def test_minhash_candidates_subset_of_bruteforce(spark):
    """LSH verification uses the same tau as brute force, so minhash pairs
    must be a subset of the n-gram Jaccard pairs (equal when recall=1)."""
    brute = _pairs(dedup.q_dedup_ngram_jaccard(spark, SF))
    lsh = _pairs(dedup.q_dedup_minhash_lsh(spark, SF))
    assert lsh <= brute
    if brute:
        assert len(lsh) / len(brute) >= 0.9  # recall floor at this scale


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark, tmp_path):
    """VERDICT r2 #2: a band bucket with > BUCKET_CAP docs (boilerplate-
    heavy corpus) must generate NO candidate pairs — the O(k^2) bound on
    the band self-join — and the DuckDB oracle must agree (the cap is part
    of the certified semantics, not a Spark-side shortcut)."""
    import duckdb
    import pandas as pd

    n_hot = dedup.BUCKET_CAP + 5
    docs = pd.DataFrame(
        {
            "doc_id": list(range(n_hot)) + [9001, 9002],
            "text": ["common boilerplate header text block"] * n_hot
            + [
                "rare unique payload alpha beta gamma delta",
                "rare unique payload alpha beta gamma epsilon",
            ],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    out = _pairs(dedup.q_dedup_minhash_lsh(spark, str(sf)))
    # every pair among the hot clones is capped away; the small bucket pair
    # survives (identical texts are also caught by exact dedup upstream —
    # the cap trades only the pathological quadratic bucket)
    assert all(a not in range(n_hot) and b not in range(n_hot) for a, b in out)
    assert (9001, 9002) in out
    dropped = dedup.lsh_dropped_buckets(spark, str(sf))
    assert dropped.count() > 0
    assert dropped.agg({"bucket_n": "max"}).collect()[0][0] == n_hot

    con = duckdb.connect()
    con.register("documents", docs)
    oracle = {
        (a, b)
        for a, b, _ in con.execute(dedup.oracles()["dedup_minhash_lsh"]).fetchall()
    }
    assert oracle == out


def test_simhash_wide_bands_subset_of_narrow(spark):
    """The simhash band-width scale knob: a 16-bit band match implies both
    its 8-bit halves match, so pairs(band_bits=16) must be a subset of
    pairs(band_bits=8) with identical hamming distances (caps don't bite
    at fixture scale)."""
    narrow = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.q_dedup_simhash_pairs(spark, SF).collect()
    }
    wide = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.q_dedup_simhash_pairs(spark, SF, band_bits=16).collect()
    }
    assert set(wide) <= set(narrow)
    for k, h in wide.items():
        assert narrow[k] == h


def test_simhash_bucket_cap_bounds_degenerate_buckets(spark, tmp_path):
    """A degenerate simhash band bucket (> BUCKET_CAP docs with the same
    band byte — guaranteed once n >> 256 * BUCKET_CAP) must generate no
    pairs, and the oracle must agree."""
    import duckdb
    import pandas as pd

    n_hot = dedup.BUCKET_CAP + 5
    docs = pd.DataFrame(
        {
            "doc_id": list(range(n_hot)) + [9001, 9002],
            "text": ["common boilerplate header text block"] * n_hot
            + [
                "rare unique payload alpha beta gamma delta",
                "rare unique payload alpha beta gamma epsilon",
            ],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    out = _pairs(dedup.q_dedup_simhash_pairs(spark, str(sf)))
    assert all(a not in range(n_hot) and b not in range(n_hot) for a, b in out)
    con = duckdb.connect()
    con.register("documents", docs)
    oracle = {
        (a, b)
        for a, b, _ in con.execute(
            dedup.oracles()["dedup_simhash_pairs"]
        ).fetchall()
    }
    assert oracle == out


def test_embedding_lsh_subset_of_exact_with_recall(spark):
    """Hyperplane-band LSH near-dup: every emitted pair passed the exact
    integer-cosine verify, so pairs (and scores) must be a subset of the
    all-pairs brute-force near-dup set; blocking recall has a floor at
    fixture scale."""
    import pyspark.sql.functions as F

    v = similarity._quantized(spark, SF)
    va = v.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("q_a"), F.col("n2").alias("n2_a")
    )
    vb = v.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("q_b"), F.col("n2").alias("n2_b")
    )
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_pm"]
        for r in similarity._pair_cos(
            va, vb, F.col("vec_a") < F.col("vec_b")
        )
        .filter(F.col("cos_pm") >= similarity.NEAR_DUP_COS)
        .collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cos_pm"]
        for r in similarity.q_dedup_embedding_lsh(spark, SF).collect()
    }
    assert set(lsh) <= set(exact)
    for k, s in lsh.items():
        assert exact[k] == s
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # trainless-blocking recall floor


def test_embedding_lsh_wide_width_recovers_planted_pairs(spark):
    """VERDICT r3 #3: the corpus-scale key width (bits=12) runs over the
    datagen planted view and must recover EVERY planted tight-angle pair
    (vec_id, vec_id + VEC_PLANT_OFFSET) — the gate's 46th row certifies
    the same rows cross-engine; this asserts they are the planted ones."""
    import pyspark.sql.functions as F

    from progquery_spark.datagen import VEC_PLANT_MOD
    from progquery_spark.session import register_sf_views

    out = {
        (r["vec_a"], r["vec_b"]): r["cos_pm"]
        for r in similarity.q_dedup_embedding_lsh(
            spark, SF, bits=similarity.E_BITS_WIDE, planted=True
        ).collect()
    }
    register_sf_views(spark, SF)
    # planted clone ids are corpus-relative: vec_id + max(vec_id) + 1
    off = spark.table("embeddings").agg(F.max("vec_id")).collect()[0][0] + 1
    base = similarity._quantized(spark, SF)
    planted = {
        (r["vec_id"], r["vec_id"] + off)
        for r in base.collect()
        if r["vec_id"] % VEC_PLANT_MOD == 0
    }
    assert planted, "fixture produced no planted pairs"
    missing = planted - set(out)
    assert not missing, f"planted pairs not recovered: {sorted(missing)[:5]}"
    for p in planted:
        assert out[p] >= 99_000  # cos >= 0.99: genuinely tight-angle


def test_simhash_is_32bit(spark):
    out = dedup.q_dedup_simhash(spark, SF)
    import pyspark.sql.functions as F

    bad = out.filter((F.col("simhash") < 0) | (F.col("simhash") >= (1 << 32))).count()
    assert bad == 0


def test_ann_topk_shape_and_selfexclusion(spark):
    out = similarity.q_ann_topk(spark, SF).collect()
    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert set(by_q) == set(range(similarity.N_QUERIES))
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, similarity.TOP_K + 1))


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF searches one coarse bucket; its hits must be a subset of the
    brute-force candidate space and self-consistent in rank."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_pm"]
        for r in similarity.q_ann_topk(spark, SF).collect()
    }
    ivf = similarity.q_ann_ivf(spark, SF).collect()
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity._vecs(spark, SF).select("vec_id", "bucket").collect()
    }
    for r in ivf:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
    # every ivf hit that also appears in brute-force top-k agrees on score
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert brute[key] == r["cos_pm"]


def test_decode_malformed_ppm_raises_diagnosable_error():
    """ADVICE r3: a truncated header, a comment without a trailing newline,
    or a short raster must raise ONE ValueError naming the payload, not an
    opaque int()/index()/frombuffer traceback from inside a task."""
    cases = [
        b"P6 12",  # header truncated mid-field
        b"P6 #comment with no newline",  # '#' but no terminating \n
        b"P6 4 4 255 \x00\x01",  # raster shorter than h*w*3
    ]
    for payload in cases:
        with pytest.raises(ValueError, match="malformed P6 payload"):
            multimodal.decode_image(payload)
    # 16-bit stays NotImplementedError (not swallowed by the wrapper)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"P5 2 2 65535 " + b"\x00" * 8)


def test_multimodal_stub_raises_and_fake_flows(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    feats = multimodal.q_multimodal_features(spark, SF)
    rows = feats.collect()
    assert len(rows) > 0
    assert all(r["n_bytes"] > 0 and 0 <= r["head_byte"] < 128 for r in rows)


def test_decode_ppm_and_resize():
    """decode_image is REAL for binary PPM/PGM (pure numpy); resize is
    nearest-neighbor over the decoded array."""
    import numpy as np

    rgb = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    ppm = b"P6\n# a comment\n6 4\n255\n" + rgb.tobytes()
    out = multimodal.decode_image(ppm)
    assert out.shape == (4, 6, 3) and np.array_equal(out, rgb)

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    pgm = b"P5 4 3 255\n" + gray.tobytes()
    assert np.array_equal(multimodal.decode_image(pgm), gray)

    small = multimodal.resize_image(out, 2, 3)
    assert small.shape == (2, 3, 3)
    assert np.array_equal(small, rgb[[0, 2]][:, [0, 2, 4]])
    big = multimodal.resize_image(gray, 6, 8)
    assert big.shape == (6, 8)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"P6 2 2 65535\n" + b"\0" * 24)


def test_frame_sample_and_resample_edges():
    """Pure-numpy edge cases: empty payload (no frames, zero-checksum
    resample row), sub-frame payload, exact multi-frame boundary, and the
    stride skipping frames 1..3."""
    import pandas as pd

    batch = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "payload": [b"", b"a", b"x" * 64 * 5, b"y" * (64 * 4 + 1)],
        }
    )
    frames = multimodal.sample_frames(batch)
    by_doc = frames.groupby("doc_id")["frame_idx"].apply(list).to_dict()
    assert 1 not in by_doc  # empty payload -> no frames
    assert by_doc[2] == [0]
    assert by_doc[3] == [0, 4]  # 5 frames, stride 4 -> frames 0 and 4
    assert by_doc[4] == [0, 4]  # frame 4 is the 1-byte tail
    tail = frames[(frames.doc_id == 4) & (frames.frame_idx == 4)].iloc[0]
    assert tail.frame_len == 1 and tail.frame_wsum_pm == ord("y")
    rs = multimodal.resample_bytes(batch).set_index("doc_id")
    assert rs.loc[1].out_len == 0 and rs.loc[1].res_wsum_pm == 0
    assert rs.loc[2].out_len == 1 and rs.loc[2].res_wsum_pm == ord("a")
    # doc 3: 320 bytes, stride 7 -> ceil(320/7)=46 samples, all 'x'
    assert rs.loc[3].out_len == 46
    assert rs.loc[3].res_wsum_pm == ord("x") * 46 * 47 // 2


def test_frame_sample_explodes_rows(spark):
    """The row-exploding mapInPandas shape: more output rows than docs,
    chunked yield, and per-doc frame counts matching ceil/stride math."""
    import pyspark.sql.functions as F

    b = multimodal.binary_table(spark, SF)
    n_docs = b.count()
    frames = multimodal.frame_sample(b)
    assert frames.count() > n_docs
    got = (
        frames.groupBy("doc_id").agg(F.count("*").alias("n"))
        .join(
            b.select(
                "doc_id",
                F.ceil(
                    F.ceil(F.length("payload") / multimodal.FRAME_BYTES)
                    / multimodal.FRAME_STRIDE
                ).alias("want"),
            ),
            "doc_id",
        )
        .where(F.col("n") != F.col("want"))
        .count()
    )
    assert got == 0


def test_fingerprint_long_equals_codegen_form(spark, tmp_path):
    """VERDICT r3 #4: the Arrow-batched O(len) fingerprint must be
    value-identical to the O(len^2) codegen form — on the gate corpus AND
    on long/degenerate documents (10k+ chars, empty, single char, NULL),
    where the codegen form is the one that stops scaling."""
    import pyspark.sql.functions as F

    a = {r["doc_id"]: r["fp"] for r in text.q_text_fingerprint(spark, SF).collect()}
    b = {
        r["doc_id"]: r["fp"]
        for r in text.q_text_fingerprint_long(spark, SF).collect()
    }
    assert a == b and len(a) > 0

    # synthetic corpus: one 10k-char doc, empty, 1-char, NULL text
    docs = spark.createDataFrame(
        [
            (1, "ab" * 5000),
            (2, ""),
            (3, "z"),
            (4, None),
            (5, "the quick brown fox " * 600),
            # beyond-latin-1 (VERDICT r4 #2): CJK + astral emoji force the
            # UTF-32-LE fallback in _codepoints; both engines fold
            # per-CODEPOINT so the values must still match the codegen form
            (6, "emoji \U0001f600é\n newline \t tab 中文"),
            (7, "中文混合 ascii and 漢字 " * 300),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs")
    docs.write.parquet(f"{p}/documents.parquet")
    a = {r["doc_id"]: r["fp"] for r in text.q_text_fingerprint(spark, p).collect()}
    b = {
        r["doc_id"]: r["fp"]
        for r in text.q_text_fingerprint_long(spark, p).collect()
    }
    assert a == b and a[4] is None and a[2] == 0


def test_tokens_fast_equals_regex_form(spark, tmp_path):
    """The vectorized token counter must be value-identical to the regex
    form — on the gate corpus AND on adversarial inputs: empty, NULL,
    double spaces (empty split fields), leading/trailing runs, digits
    glued to letters, punctuation clusters, tabs/newlines, non-ASCII."""
    a = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in text.q_text_tokens(spark, SF).collect()
    }
    b = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in text.q_text_tokens_fast(spark, SF).collect()
    }
    assert a == b and len(a) > 0

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "a"),
            (4, "abc123def 45!"),
            (5, "  double  spaces  "),
            (6, "tab\there\nnewline"),
            (7, "héllo wörld"),
            (8, "...!!!,,,"),
            (9, "ends with space "),
            (10, "UPPER lower 000 111x"),
            # beyond-latin-1 (VERDICT r4 #2): every codepoint here is
            # outside [A-Za-z0-9 ], so each counts as one BPE token; the
            # astral emoji is 1 codepoint in Spark's length() AND in the
            # UTF-32 view — this fixture proves they agree
            (11, "emoji \U0001f600é newline 中文"),
            (12, "中文 mixed 漢字 with ascii words"),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs")
    docs.write.parquet(f"{p}/documents.parquet")
    a = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in text.q_text_tokens(spark, p).collect()
    }
    b = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in text.q_text_tokens_fast(spark, p).collect()
    }
    assert a == b, (a, b)


def test_embedding_index_build_resume_and_consume(spark, tmp_path):
    """VERDICT r4 #1: the persisted banding index is a first-class stage —
    built atomically with a geometry manifest, idempotent under rebuild
    (the resume contract), and the index-consuming ANN/near-dup forms are
    value-identical to the inline-banding forms."""
    import os

    p = str(tmp_path / "embidx")
    r1 = similarity.build_embedding_index(spark, SF, p)
    assert r1["rows"] > 0 and r1["resumed"] is False
    files = {
        f: os.path.getmtime(os.path.join(r1["path"], f))
        for f in os.listdir(r1["path"])
        if f.endswith(".parquet")
    }
    assert files, "index wrote no parquet files"

    # rebuild with identical params: a no-op (stage-manifest resume)
    r2 = similarity.build_embedding_index(spark, SF, p)
    assert r2["resumed"] is True and r2["rows"] == r1["rows"]
    for f, mt in files.items():
        assert os.path.getmtime(os.path.join(r1["path"], f)) == mt, f

    # the consuming forms equal the inline-banding forms, bit for bit
    a = {tuple(r) for r in similarity.q_ann_lsh_topk(spark, SF).collect()}
    b = {
        tuple(r)
        for r in similarity.q_ann_lsh_topk_indexed(spark, SF, p).collect()
    }
    assert a == b and len(a) > 0
    c = {tuple(r) for r in similarity.q_dedup_embedding_lsh(spark, SF).collect()}
    d = {
        tuple(r)
        for r in similarity.q_dedup_embedding_lsh_indexed(spark, SF, p).collect()
    }
    assert c == d and len(c) > 0

    # the indexed probe actually READS the persisted index (no banding
    # recompute): its plan scans the bands parquet
    plan = (
        similarity.q_ann_lsh_topk_indexed(spark, SF, p)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "embidx" in plan


def test_embedding_index_rejects_mismatch(spark, tmp_path):
    """A geometry or source mismatch silently returns wrong neighbors, so
    consumers must refuse the index outright."""
    p = str(tmp_path / "embidx")
    similarity.build_embedding_index(spark, SF, p)
    with pytest.raises(ValueError, match="geometry mismatch"):
        similarity.read_embedding_index(spark, p, bits=12)
    with pytest.raises(ValueError, match="built from"):
        similarity.read_embedding_index(spark, p, sf_dir="/elsewhere")
    # a parameter change is not an error on BUILD — it rebuilds atomically
    r = similarity.build_embedding_index(spark, SF, p, bits=5)
    assert r["resumed"] is False
    assert (
        similarity.read_embedding_index(spark, p, bits=5).count() == r["rows"]
    )


def test_embedding_index_refuses_stale_corpus(spark, tmp_path):
    """Round-5 self-review: geometry + source-PATH checks cannot see an
    IN-PLACE corpus rewrite (same path, new contents) — a stale index
    silently misses every changed vector. The manifest therefore also
    fingerprints the corpus file metadata: readers refuse a stale index,
    and a resume request against one falls through to a real rebuild."""
    import os
    import shutil

    import pyarrow.parquet as pq

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    emb = str(corpus / "embeddings.parquet")
    shutil.copy(os.path.join(SF, "embeddings.parquet"), emb)
    p = str(tmp_path / "embidx")
    r1 = similarity.build_embedding_index(spark, str(corpus), p)
    assert r1["resumed"] is False
    similarity.read_embedding_index(spark, p, sf_dir=str(corpus))  # fresh: ok

    # rewrite the corpus IN PLACE (drop the last vector) — path unchanged,
    # so the pre-fix source check would have accepted the old index
    t = pq.read_table(emb)
    pq.write_table(t.slice(0, t.num_rows - 1), emb)

    with pytest.raises(ValueError, match="stale"):
        similarity.read_embedding_index(spark, p, sf_dir=str(corpus))
    # and the build path: params (incl. corpus_sig) no longer match, so
    # this is a REBUILD, not a resume no-op over the stale banding frame
    r2 = similarity.build_embedding_index(spark, str(corpus), p)
    assert r2["resumed"] is False and r2["rows"] < r1["rows"]
    similarity.read_embedding_index(spark, p, sf_dir=str(corpus))


def test_embedding_index_crashed_rebuild_refused(spark, tmp_path, monkeypatch):
    """Crash-window invariant (round-5 self-review): a rebuild with CHANGED
    geometry that dies before the manifest record must leave an index that
    readers REFUSE (no stage record) — never one the stale manifest
    mis-certifies as the old geometry."""
    import progquery_spark.io.sinks as sinks

    p = str(tmp_path / "embidx")
    similarity.build_embedding_index(spark, SF, p)

    def boom(df, path, partition_by=None):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(sinks, "write_stage", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        similarity.build_embedding_index(spark, SF, p, bits=5)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="stage record"):
        similarity.read_embedding_index(spark, p)


def test_codepoints_utf32_fallback_exact():
    """Unit proof that the beyond-latin-1 branch of ``_codepoints`` is
    actually taken and exact (VERDICT r4 #2 / ADVICE r4): the fixture
    cannot encode latin-1 (asserted), the UTF-32-LE view is used, and the
    result equals a per-char ord() map — including an astral emoji, which
    must be ONE codepoint (no surrogate pair), matching Spark length()
    and pandas str.len() semantics."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from progquery_spark.ops.text import _codepoints

    texts = pd.Series(["ascii part", "中文漢字", "emoji \U0001f600é"])
    joined = "".join(texts)
    with _pytest.raises(UnicodeEncodeError):
        joined.encode("latin-1")  # proves the fast path CANNOT serve this
    total = sum(len(t) for t in texts)
    got = _codepoints(texts, total)
    assert got.dtype == np.int64 and len(got) == total
    assert got.tolist() == [ord(c) for c in joined]
    assert 0x1F600 in got.tolist()  # astral char as one codepoint


def test_text_quality_bands_partition(spark):
    out = text.q_text_quality(spark, SF)
    import pyspark.sql.functions as F

    n = out.count()
    bands = out.groupBy("quality_band").count().collect()
    assert sum(r["count"] for r in bands) == n
    assert {r["quality_band"] for r in bands} <= {"high", "medium", "low"}


def _truncation_warnings(fn):
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = fn()
    return out, [x for x in w if "truncated" in str(x.message)]


def test_reachability_bfs_levels(spark):
    """G3/G5 analog: BFS levels are minimal distances; roots at hop 0.
    A walk cut one level short warns; one that drains exactly at the
    bound (the part level is the last) does not."""
    from progquery_spark.graph.passes import entity_reachability
    from progquery_spark.queries import q_triples_canonical

    triples = q_triples_canonical(spark, "/root/testdata/sf0.001")
    r = entity_reachability(triples).toPandas()
    assert (r[r.root == r.node].hops == 0).all()
    by_hop = r.groupby("hops").size()
    # nation -> customer -> order -> part: exactly 4 levels on this corpus
    assert list(by_hop.index) == [0, 1, 2, 3]
    # every non-root node's key prefix matches its BFS level
    lvl = {1: "customer:", 2: "order:", 3: "part:"}
    for h, pfx in lvl.items():
        assert r[r.hops == h].node.str.startswith(pfx).all()

    short, warned = _truncation_warnings(
        lambda: entity_reachability(triples, max_hops=2).toPandas()
    )
    assert warned
    assert len(short) == (r.hops <= 2).sum()
    exact, warned = _truncation_warnings(
        lambda: entity_reachability(triples, max_hops=3).toPandas()
    )
    assert not warned
    assert len(exact) == len(r)


def test_must_reach_chain_bounds_and_truncation(spark):
    """G4 fixpoint over a 4-edge must chain a->b->c->d->e: the full
    closure (10 pairs, hops 1-4) drains at max_rounds=4 without a
    warning; max_rounds=2 keeps the 7 pairs of hops <= 2 and warns."""
    from progquery_spark.graph.passes import must_reach_fixpoint

    chain = "abcde"
    modality = spark.createDataFrame(
        [(s, "placed", d, "must") for s, d in zip(chain, chain[1:])]
        # a 'may' edge and a non-entity pred never enter the closure
        + [("e", "placed", "f", "may"), ("a", "name", "z", "must")],
        "subj string, pred string, obj string, modality string",
    )
    full = {(chain[i], chain[j], j - i) for i in range(5) for j in range(i + 1, 5)}

    rows, warned = _truncation_warnings(
        lambda: must_reach_fixpoint(modality, max_rounds=4).collect()
    )
    assert {tuple(r) for r in rows} == full and len(rows) == 10
    assert not warned

    rows, warned = _truncation_warnings(
        lambda: must_reach_fixpoint(modality, max_rounds=2).collect()
    )
    assert {tuple(r) for r in rows} == {p for p in full if p[2] <= 2}
    assert len(rows) == 7
    assert warned


def test_trained_codebook_matches_oracle_training(spark):
    """VERDICT r2 #4: the Spark-trained codebook must be bit-identical to
    the oracle's unrolled-CTE training replay — otherwise the IVF gate
    would certify assignments against a different quantizer."""
    import duckdb

    cents = similarity.train_codebook(spark, SF)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    got = con.execute(
        f"WITH {similarity._qvec_ctes()} SELECT k, pos, val FROM cent"
    ).fetchall()
    oracle = [[0] * similarity.DIM for _ in range(similarity.N_CENTROIDS)]
    for k, pos, val in got:
        oracle[k][pos - 1] = val
    assert oracle == cents


def test_trained_ivf_recall_not_worse_than_fixed(spark):
    """The trained codebook's recall against brute-force truth must be at
    least the constants-derived fixed codebook's recall (the point of
    fitting the quantizer to the data)."""
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_topk(spark, SF).collect()
    }
    trained = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_ivf(spark, SF).collect()
    }
    fixed = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_ivf(
            spark, SF, similarity._fixed_centroid_rows()
        ).collect()
    }
    assert len(trained & truth) >= len(fixed & truth)


def test_ann_lsh_topk_subset_of_brute_with_score_equality(spark):
    """LSH-routed ANN: every returned neighbor passed the exact cosine
    verify, so any (query, neighbor) it shares with the brute-force top-k
    must carry the identical score; per-query result sets are <= TOP_K;
    recall against brute top-1 has a floor at fixture scale (near-exact
    neighbors collide in >=1 band w.h.p.)."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_pm"]
        for r in similarity.q_ann_topk(spark, SF).collect()
    }
    lsh_rows = similarity.q_ann_lsh_topk(spark, SF).collect()
    per_q: dict = {}
    for r in lsh_rows:
        per_q.setdefault(r["query_id"], []).append(r)
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert brute[key] == r["cos_pm"]
    assert per_q, "no query returned neighbors"
    for q, rows in per_q.items():
        assert len(rows) <= similarity.TOP_K
        rnks = sorted(r["rnk"] for r in rows)
        assert rnks == list(range(1, len(rows) + 1))


def test_sample_trained_codebook_bucketing_math(spark):
    """VERDICT r3 #6: the 10^9-vector training path (vec_id % S sample,
    parameterized K) is a tested code path, not prose. sample_mod=1 must
    reproduce the gate codebook exactly; a sample-trained codebook must
    bucket the FULL vector set with identical math to an exact numpy
    replay of argmax-dot / smallest-k-on-ties."""
    import numpy as np
    import pyspark.sql.functions as F

    full = similarity.train_codebook(spark, SF)
    assert similarity.train_codebook(spark, SF, sample_mod=1) == full

    cb = similarity.train_codebook(spark, SF, sample_mod=2)
    assert len(cb) == similarity.N_CENTROIDS
    assert all(len(row) == similarity.DIM for row in cb)
    assert similarity.train_codebook(spark, SF, sample_mod=2) == cb  # cached

    v = similarity._quantized(spark, SF)
    got = {
        r["vec_id"]: r["bucket"]
        for r in v.withColumn(
            "bucket", similarity._bucket_expr(F.col("q"), cb)
        ).select("vec_id", "bucket").collect()
    }
    C = np.array(cb, dtype=np.int64)
    for r in v.collect():
        dots = C @ np.array(r["q"], dtype=np.int64)
        # np.argmax returns the FIRST max — the smallest-k tie rule
        assert got[r["vec_id"]] == int(np.argmax(dots))

    # parameterized K: a 12-centroid codebook trains and buckets validly
    cb12 = similarity.train_codebook(spark, SF, k=12, sample_mod=2)
    assert len(cb12) == 12
    n_buckets = (
        v.withColumn("bucket", similarity._bucket_expr(F.col("q"), cb12))
        .select("bucket")
        .distinct()
        .count()
    )
    assert 1 < n_buckets <= 12

    # gcd(sample_mod, k) > 1 must NOT degenerate the seeds: sampled ids
    # are all multiples of sample_mod, so seeding by pmod(vec_id, k)
    # would only reach residue classes {0, 2} at (S=2, K=4) and leave the
    # rest zero-vector centroids — the densified-index seeding gives every
    # class a seed (code-review finding, round 4)
    cb4 = similarity.train_codebook(spark, SF, k=4, sample_mod=2)
    assert sum(any(c != 0 for c in row) for row in cb4) == 4


def test_multiprobe_recall_at_least_single_probe(spark):
    """Probing 2 buckets can only widen the candidate set, so recall
    against the brute-force truth must not drop."""
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_topk(spark, SF).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_ivf(spark, SF).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_ivf_multiprobe(spark, SF).collect()
    }
    assert len(multi & truth) >= len(single & truth)


def test_dedup_family_survives_degenerate_documents(spark, tmp_path):
    """Single-token, empty, and whitespace-only documents must produce
    zero 2-grams (matching the oracle's empty range) — not crash.
    Regression: F.sequence(1, size-1) is a DESCENDING [1, 0] when a doc
    has one token, and element_at(ts, 2) then threw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT through every gram-based op."""
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [
            (1, "solo", "en", "src0", 4),
            (2, "", "en", "src0", 0),
            (3, "   ", "en", "src0", 3),
            (4, "two words here now five six", "en", "src0", 27),
            (5, "two words here now five six", "en", "src0", 27),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    path = str(tmp_path / "degenerate")
    docs.write.parquet(path + "/documents.parquet")
    # single/empty-token docs contribute no grams (doc 3, whitespace-only,
    # legitimately yields one degenerate " " gram — in BOTH engines:
    # string_split turns "   " into four empty tokens)...
    grams = dedup._grams(spark.read.parquet(path + "/documents.parquet"))
    assert grams.filter(F.col("doc_id").isin(1, 2)).count() == 0
    assert grams.filter(F.col("doc_id") == 3).count() == 1
    # ...and every gram-based pair op runs end-to-end, still finding the
    # genuine duplicate pair among the well-formed docs
    assert {(4, 5)} == {
        (r["doc_a"], r["doc_b"])
        for r in dedup.q_dedup_ngram_jaccard(spark, path).collect()
    }
    assert {(4, 5)} == {
        (r["doc_a"], r["doc_b"])
        for r in dedup.q_dedup_minhash_lsh(spark, path).collect()
    }
    assert dedup.q_dedup_simhash_pairs(spark, path).count() >= 1


def test_ansi_guards_empty_text_and_zero_vectors(spark, tmp_path):
    """Under ANSI mode (Spark 4 default, kept on) empty documents crashed
    text_quality (alpha ratio divides by length) and zero-norm vectors
    crashed every cosine op (sqrt(0) divisor). Both now have defined,
    oracle-mirrored semantics: alpha_pm = 0 for empty text; zero-
    quantized-norm vectors are excluded from the similarity ops at the
    source."""
    from progquery_spark.ops import similarity, text

    p = str(tmp_path / "edge")
    spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "ok text here", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(p + "/documents.parquet")
    dim = similarity.DIM
    spark.createDataFrame(
        [
            (1, [0.0] * dim, 0),  # exactly zero
            (2, [1.0] * dim, 1),
            (3, [1.0] * dim, 1),
            (4, [0.00004] * dim, 0),  # quantizes to zero at Q_SCALE
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(p + "/embeddings.parquet")

    q = {r["doc_id"]: r["alpha_pm"] for r in text.q_text_quality(spark, p).collect()}
    assert q[1] == 0 and q[2] > 0

    kept = {r["vec_id"] for r in similarity._quantized(spark, p).collect()}
    assert kept == {2, 3}
    pairs = similarity.q_dedup_embedding(spark, p).collect()
    assert [(r["vec_a"], r["vec_b"], r["cos_pm"]) for r in pairs] == [(2, 3, 100000)]
    assert similarity.q_ann_topk(spark, p).count() > 0


def test_simhash64_signature_and_pairs(spark):
    """The 64-bit simhash variant (the >=10M-doc scale path): signatures
    are 64-bit, exact-content pairs collide at hamming 0, and the pair
    set stays within the same verify discipline as the 32-bit op."""
    import pyspark.sql.functions as F

    sig = dedup.q_dedup_simhash64(spark, SF)
    assert sig.filter(F.col("simhash64").isNull()).count() == 0
    # the signature genuinely uses the full 64-bit range (bit 63 set on
    # roughly half the docs -> negative signed values appear)
    assert sig.filter(F.col("simhash64") < 0).count() > 0
    pairs = dedup.q_dedup_simhash64_pairs(spark, SF).collect()
    assert pairs, "fixture near-dups must collide in at least one band"
    assert all(0 <= r["hamming"] <= dedup.HAM64_MAX for r in pairs)
    # NOTE: no cross-variant subset invariant exists — the 64-plane pool
    # is a different random projection than the 32-plane one, and a
    # near-dup pair's bits agree or differ per-pool (sign ties), so
    # hamming-0 under one pool does not imply hamming-0 under the other
    # in either direction (observed both ways at fixture scale). Exact
    # semantics are certified by the DuckDB oracle instead.


def test_sampling_split_deterministic_and_uncorrelated(spark):
    """Split is exhaustive/disjoint, reproducible, keyed only on doc_id;
    sampling uses an independent hash pair so the two decisions compose
    without bias (the kept set's holdout fraction tracks the corpus's)."""
    import pyspark.sql.functions as F

    from progquery_spark.ops import sampling

    d = sampling._docs(spark, SF)
    n = d.count()
    sp1 = sampling.assign_split(d)
    sp2 = sampling.assign_split(d)
    assert sp1.count() == n
    assert sp1.exceptAll(sp2).count() == 0  # deterministic rerun
    counts = {r["split"]: r["n"] for r in
              sp1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "holdout"} and sum(counts.values()) == n
    # independence: the sampled subset is not split-skewed (coarse bound)
    kept = sampling.sample_stratified(d)
    frac_all = counts["holdout"] / n
    kh = kept.join(sp1, "doc_id").filter(F.col("split") == "holdout").count()
    frac_kept = kh / kept.count()
    assert abs(frac_kept - frac_all) < 0.1


def test_sampling_stratified_respects_language_quotas(spark):
    """The dominant language is down-sampled, low-resource languages kept
    nearly whole — per-language keep fractions land near their permille
    quotas."""
    import pyspark.sql.functions as F

    from progquery_spark.ops import sampling

    d = sampling._docs(spark, SF)
    tot = {r["lang"]: r["n"] for r in
           d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in
            sampling.sample_stratified(d).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, pm in sampling.LANG_RATES.items():
        if tot.get(lang, 0) < 10:
            continue  # too small for a fraction check
        frac = kept.get(lang, 0) / tot[lang]
        assert abs(frac - pm / 1000) < 0.25, (lang, frac, pm)
    assert kept.get("en", 0) / tot["en"] < 0.6  # dominant lang down-weighted


def test_sampling_pack_documents_invariants(spark):
    """Concat-and-chunk packing: every doc assigned exactly once, each
    bucket's stream starts at offset 0 with contiguous cumulative
    offsets, pack_id is exactly start_off DIV budget, and the plan
    shuffles once (the bucket hash partition) with no extra exchange."""
    import pyspark.sql.functions as F

    from progquery_spark.ops import sampling

    d = sampling._docs(spark, SF)
    packed = sampling.pack_documents(d)
    # one shuffle: the bucket hash partition. Plan read BEFORE execution
    # and in simple mode — either relaxation makes AQE print final AND
    # initial trees, double-counting every node.
    plan = packed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert plan.count("Exchange") == 1, plan
    rows = packed.collect()
    assert len(rows) == d.count()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) == sampling.PACK_BUCKETS
    for bucket, rs in by_bucket.items():
        rs.sort(key=lambda r: r["start_off"])
        assert rs[0]["start_off"] == 0
        run = 0
        for r in rs:
            assert r["start_off"] == run  # contiguous stream
            assert r["pack_id"] == r["start_off"] // sampling.PACK_BUDGET
            run += r["n_tokens"]


def test_sampling_packing_oracles_follow_n_buckets(spark):
    """A non-default bucket count (the ops_scale knob) is certified by
    the same oracle formula: pack_documents and corpus_pipeline at
    n_buckets=3 equal their DuckDB replays at n_buckets=3."""
    import duckdb

    from progquery_spark.ops import sampling

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for q, sql in (
        (sampling.q_pack_documents, sampling.pack_documents_sql),
        (sampling.q_corpus_pipeline, sampling.corpus_pipeline_sql),
    ):
        got = sorted(tuple(r) for r in q(spark, SF, n_buckets=3).collect())
        want = sorted(con.execute(sql(n_buckets=3)).fetchall())
        assert got == want, q.__name__
        assert {r[0] for r in got} == {0, 1, 2}


def test_sampling_split_and_sample_plans_are_shuffle_free(spark):
    """Split assignment and stratified sampling are pure projections —
    zero exchanges, so at 100 TB they ride the scan. The REGISTERED
    sample_split query keeps that shape too: its only exchange is the
    final 2-group aggregate (the self-joining draft that paid join
    exchanges is the regression this guards)."""
    from progquery_spark.ops import sampling

    d = sampling._docs(spark, SF)
    for df in (sampling.assign_split(d), sampling.sample_stratified(d)):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        assert "Exchange" not in plan, plan
    gate = sampling.q_sample_split(spark, SF)
    plan = gate._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert plan.count("Exchange") == 1, plan


def test_sampling_key_handles_negative_ids(spark):
    """The id keying must stay in [0, M) for ANY 64-bit id: plain %
    follows the sign and would force every negative id into holdout and
    past every quota (code-review finding — pmod both engines)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from progquery_spark.ops import sampling

    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": [-(10**12) - 7, -5, 0, 5, 10**12 + 7]})
    )
    keys = d.select(
        sampling._key(F.col("doc_id"), sampling._SPLIT_I).alias("k")
    ).collect()
    assert all(0 <= r["k"] < (1 << 31) - 1 for r in keys), keys
    # and the negative ids are not all funneled into holdout
    flags = d.select(sampling.is_holdout().alias("h")).collect()
    assert not all(r["h"] for r in flags[:2])


def test_sampling_corpus_pipeline_composition(spark):
    """The composed chain equals its step-by-step form, and the plan
    holds at 4 exchanges — split/sample enter as predicates riding the
    scan (the 17-exchange self-join draft is the regression this
    guards)."""
    import pyspark.sql.functions as F

    from progquery_spark.ops import sampling

    df = sampling.q_corpus_pipeline(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert plan.count("Exchange") <= 4, plan
    # step-by-step reference: survivors built with the frame-level ops
    d = sampling._docs(spark, SF).filter(sampling.passes_quality())
    sp = sampling.assign_split(d).filter(F.col("split") == "train")
    sm = sampling.sample_stratified(d).select("doc_id")
    survivors = d.join(sp, "doc_id").join(sm, "doc_id")
    expect = (
        sampling.pack_documents(survivors)
        .groupBy("bucket", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("sum_tokens"))
    )
    # dedup keeps every base doc at gate scale (clones lose, the base
    # table has no exact dups), so the composed form must equal the
    # join-built form exactly
    assert df.exceptAll(expect).count() == 0
    assert expect.exceptAll(df).count() == 0
