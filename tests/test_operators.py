"""Every declared query runs at sf0.001 and hash-matches its DuckDB
oracle — the local replica of the driver's t2 gate."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from dump_es_parquet_spark.oracle import compare, register_views

# declared (≤50, the driver's correctness window) + demoted (implemented
# queries trimmed from the declared set to fit the cap) — pytest verifies
# ALL of them against the same DuckDB oracles
QUERIES = {**entry.queries(), **entry.demoted_queries()}
ORACLES = {**entry.oracle_sql(), **entry.demoted_oracle_sql()}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    register_views(c, sf_dir)
    return c


def test_every_query_has_an_oracle():
    assert set(ORACLES) <= set(QUERIES)
    # every query is oracle-checked (none fall back to rows-only)
    assert set(QUERIES) == set(ORACLES)
    # the declared set fits the driver's 50-row correctness window
    assert len(entry.queries()) <= 50
    assert set(entry.queries()) == set(entry.oracle_sql())
    assert not set(entry.queries()) & entry.DEMOTED


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, con, ORACLES[name])
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "sum_qty" in df.columns


def test_gemm_topk_matches_exact(spark, sf_dir):
    """The GEMM scale path agrees with the expression-exact top-k up
    to float tolerance (BLAS summation order)."""
    from dump_es_parquet_spark.operators.embedding_block import topk_gemm
    from dump_es_parquet_spark.operators.similarity import topk_bruteforce

    exact = {r.vec_id: r.cos_sim for r in topk_bruteforce(spark, sf_dir).collect()}
    gemm = {r.vec_id: r.cos_sim for r in topk_gemm(spark, sf_dir).collect()}
    assert set(exact) == set(gemm)
    for vid, sim in exact.items():
        # exact path rounds to 6 decimals; GEMM differs only by BLAS
        # summation order beyond that
        assert abs(sim - gemm[vid]) < 1e-6


def test_filter_corpus_api(spark):
    """filter_corpus drops exactly the rule-violating docs and keeps
    original columns only."""
    from dump_es_parquet_spark.operators.text import filter_corpus

    good = " ".join(
        ["the"] + [f"meaningful{i:02d}word" for i in range(25)]
    )  # 26 unique tokens, >100 chars, has a stopword, no repetition
    rows = [
        (1, good),
        (2, "the tiny one"),  # < 20 tokens AND < 100 chars
        (3, " ".join(f"zz{i:02d}xx{'q' * 3}" for i in range(30))),  # no stopword
        (4, "the " + " ".join(["spam"] * 30)),  # top_word_frac ≈ 0.97
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    kept = filter_corpus(d)
    assert kept.columns == ["doc_id", "text"]
    assert [r.doc_id for r in kept.collect()] == [1]


def test_dedup_corpus_exact(spark):
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    d = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc"), (5, "bbb")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_corpus(d, "exact").collect())
    assert kept == [1, 2, 4]


def test_dedup_corpus_minhash(spark):
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog again and again " * 6
    variant = base.replace("lazy", "sleepy")  # near-dup of base
    distinct = "completely different content with other words entirely " * 6
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, variant), (4, distinct), (5, base + " extra")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_corpus(d, "minhash").collect())
    # 2,3,5 collapse onto 1 (identical/near-identical); 4 survives
    assert 1 in kept and 4 in kept
    assert 2 not in kept
    assert len(kept) <= 3


def test_embedding_near_dup_ivf_candidates_recall(spark, sf_dir):
    """The IVF candidate mode's contract: precision 1 (every returned
    pair is verified with the exact fold) and documented recall vs the
    exact GEMM pairs — deterministic because centroid seeding is
    md5-based, so the measured recall is pinned, not a flaky bound."""
    from dump_es_parquet_spark.operators.dedup import embedding_near_dup

    exact = {(r.id_a, r.id_b) for r in embedding_near_dup(spark, sf_dir, 0.45).collect()}
    ivf2 = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(
            spark, sf_dir, 0.45, candidates="ivf", nprobe=2
        ).collect()
    }
    ivf3 = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(
            spark, sf_dir, 0.45, candidates="ivf", nprobe=3
        ).collect()
    }
    assert ivf2 <= exact and ivf3 <= exact  # precision 1 by verification
    assert len(exact) == 7
    assert len(ivf2) / len(exact) >= 0.8  # measured 6/7 at nprobe=2
    assert ivf3 == exact  # measured full recall at nprobe=3
    with pytest.raises(ValueError):
        embedding_near_dup(spark, sf_dir, 0.45, candidates="nope")


def _expected_kept(ids, pairs):
    """Independent transitive collapse (union-find) over verified
    pairs — the oracle for dedup_corpus's min-label fixpoint."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    return sorted(min(g) for g in groups.values())


def test_dedup_corpus_simhash(spark):
    """simhash strategy: removal set == union-find collapse of the
    verified hamming<=1 pairs, and the block manager is left clean."""
    from dump_es_parquet_spark.operators.dedup import (
        dedup_corpus,
        simhash_pairs_for,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    rows = [
        (1, base),
        (2, base),                             # identical → hamming 0
        (3, base.replace("kappa", "lambda")),  # near variant
        (4, "totally different words entirely disjoint vocabulary " * 6),
        (5, base),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [
        (r.id_a, r.id_b) for r in simhash_pairs_for(d, max_hamming=1).collect()
    ]
    expected = _expected_kept([r[0] for r in rows], pairs)
    assert 4 in expected and 2 not in expected  # sanity: 2 dups of 1

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    kept = sorted(r.doc_id for r in dedup_corpus(d, "simhash").collect())
    assert kept == expected
    assert persisted_ids() - before == set()


def test_degenerate_bucket_guard_bounds_pair_expansion(spark):
    """VERDICT r08 Next #3: a corpus of ALL-IDENTICAL texts collides
    into one bucket per band; above ``max_bucket`` both banded
    candidate generators must degrade to the linear STAR expansion
    (|bucket|−1 anchor pairs, never |bucket|² all-pairs) — and the
    identical-content cluster still collapses fully through the
    anchor, so dedup keeps exactly one document."""
    from dump_es_parquet_spark.operators.dedup import (
        dedup_corpus,
        minhash_lsh_pairs_for,
        simhash_pairs_for,
    )

    n = 300
    rows = [(i, "the exact same boilerplate text in every document") for i in range(n)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    mh = minhash_lsh_pairs_for(d, max_bucket=10).collect()
    assert len(mh) == n - 1  # star, not (n choose 2) = 44 850
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in mh)

    sh = simhash_pairs_for(d, max_bucket=10).collect()
    assert len(sh) == n - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in sh)

    # the star edges alone still collapse the whole cluster
    for strategy in ("minhash", "simhash"):
        kept = dedup_corpus(d, strategy, max_bucket=10).select("doc_id").collect()
        assert [r.doc_id for r in kept] == [0]


def test_bucket_guard_identity_on_normal_corpus(spark, sf_dir):
    """With the default cap, real testdata has no oversized buckets:
    guarded output must be row-identical to an effectively-uncapped
    run for both generators."""
    from dump_es_parquet_spark.operators.dedup import (
        minhash_lsh_pairs_for,
        simhash_pairs_for,
    )
    from dump_es_parquet_spark.operators.tables import load

    docs = load(spark, sf_dir, "documents")
    for fn in (minhash_lsh_pairs_for, simhash_pairs_for):
        capped = sorted(map(tuple, fn(docs).collect()))
        uncapped = sorted(map(tuple, fn(docs, max_bucket=1 << 40).collect()))
        assert capped == uncapped and capped


def test_wide_simhash_64bit_scheme(spark):
    """bits=64 wide scheme (the 100 TB band-density escape): identical
    texts collide exactly; the banded join at 64/4 recovers EVERY pair
    the exact O(n²) signature-hamming comparison finds (pigeonhole,
    hamming ≤ bands−1); and 16-bit band values are strictly sparser
    than the 32/4 default's 8-bit bands on the same corpus."""
    import itertools

    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.dedup import (
        simhash_pairs_for,
        simhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    rows = [(1, base), (2, base), (3, base.replace("kappa", "lambda"))]
    rows += [(10 + i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(30)))
             for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r.doc_id: r.simhash
            for r in simhash_signatures(d, bits=64).collect()}
    assert sigs[1] == sigs[2]
    # exact all-pairs ground truth at hamming <= 3 (= bands - 1)
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs_for(d, max_hamming=3, bits=64, bands=4).collect()
    }
    assert got == want and (1, 2) in got

    def n_buckets(bits, bands):
        s = simhash_signatures(d, bits=bits)
        w = bits // bands
        return (
            s.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.shiftright("simhash", bi * w)
                            .bitwiseAND(F.lit((1 << w) - 1))
                            .alias("bval"),
                        )
                        for bi in range(bands)
                    ])
                ).alias("b")
            )
            .select("b.band", "b.bval")
            .distinct()
            .count()
        )

    assert n_buckets(64, 4) > n_buckets(32, 4)


def test_simhash_null_text_hashes_to_zero(spark):
    """NULL-text docs must hash to 0 (the pre-round-8 per-bit-fold
    contract): all null docs collide at hamming 0 and dedup together.
    The single-fold rewrite initially propagated NULL instead, which
    would let every null-text doc silently escape the band join."""
    from dump_es_parquet_spark.operators.dedup import simhash_col

    d = spark.createDataFrame(
        [(1, None), (2, "hello world tokens here"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.s for r in d.select("doc_id", simhash_col().alias("s")).collect()}
    assert got[1] == 0 and got[3] == 0
    assert got[2] not in (None, 0)


def test_dedup_corpus_ngram(spark):
    """ngram strategy: removal set == union-find collapse of the exact
    prefix-filtered Jaccard pairs; block manager left clean."""
    from dump_es_parquet_spark.operators.dedup import (
        dedup_corpus,
        ngram_jaccard_pairs_for,
    )

    base = "one two three four five six seven eight nine ten " * 5
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("ten", "eleven")),
        (4, "disjoint vocabulary entirely unrelated tokens here now " * 5),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_for(d, threshold=0.6).collect()
    ]
    expected = _expected_kept([r[0] for r in rows], pairs)
    assert 4 in expected and 2 not in expected

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    kept = sorted(r.doc_id for r in dedup_corpus(d, "ngram", threshold=0.6).collect())
    assert kept == expected
    assert persisted_ids() - before == set()


def test_dedup_corpus_embedding(spark):
    """embedding strategy: removal set == union-find collapse of the
    exact-verified cosine pairs; id_col renaming round-trips; block
    manager left clean."""
    from dump_es_parquet_spark.operators.dedup import (
        dedup_corpus,
        embedding_near_dup_pairs_for,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0, 0.0]),   # cos≈0.990 with 1
        (3, [0.97, 0.24, 0.0, 0.0]),   # cos≈0.971 with 1, 0.999 with 2
        (4, [0.0, 1.0, 0.0, 0.0]),     # orthogonal to 1
        (5, [0.0, 0.98, 0.2, 0.0]),    # cos≈0.980 with 4
        (6, [0.0, 0.0, 0.0, 1.0]),     # isolated
    ]
    d = spark.createDataFrame(rows, "id long, embedding array<float>")
    e = d.withColumnRenamed("id", "vec_id")
    pairs = [
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs_for(e, threshold=0.9).collect()
    ]
    expected = _expected_kept([r[0] for r in rows], pairs)
    assert expected == [1, 4, 6]

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    kept = sorted(
        r.id for r in dedup_corpus(d, "embedding", threshold=0.9, id_col="id").collect()
    )
    assert kept == expected
    assert persisted_ids() - before == set()


def test_split_contamination(spark):
    """Cross-split near-dup detection: a test-split document that
    near-duplicates a train document is reported (both directions of
    the split boundary), same-split duplicates are not."""
    from dump_es_parquet_spark.operators.dedup import split_contamination

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base, "train"),
        (2, base, "train"),                              # same-split dup: not reported
        # one changed token of 50 — J ≈ 0.77 over distinct shingles
        (3, base.replace("kappa", "lambda", 1), "test"),  # leaks into train
        (4, "completely different tokens with no overlap at all " * 5, "test"),
        (5, base, "val"),                                # exact dup across splits
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, split string")

    got = [
        (r.id_a, r.id_b, r.split_a, r.split_b)
        for r in split_contamination(d, strategy="ngram", threshold=0.6).collect()
    ]
    cross = {(a, b) for a, b, _, _ in got}
    assert (1, 3) in cross and (1, 5) in cross and (3, 5) in cross
    assert (1, 2) not in cross  # same split
    assert not any(4 in p for p in cross)
    # labels ride along correctly
    assert (1, 3, "train", "test") in got

    exact = {
        (r.id_a, r.id_b)
        for r in split_contamination(d, strategy="exact").collect()
    }
    assert exact == {(1, 5), (2, 5)}  # only the identical cross-split pairs

    with pytest.raises(ValueError):
        split_contamination(d, strategy="nope")


def test_dedup_corpus_embedding_ivf_candidates(spark):
    """embedding strategy with candidates='ivf': the coarse quantizer
    trains on the frame itself; verification keeps precision 1, so the
    removal set is a SUBSET of the exact-GEMM removal (recall<1 can
    only under-remove, never delete a non-duplicate)."""
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    rows = [
        (i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.01 * i])
        for i in range(12)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact_kept = {
        r.vec_id
        for r in dedup_corpus(d, "embedding", threshold=0.95, id_col="vec_id").collect()
    }
    ivf_kept = {
        r.vec_id
        for r in dedup_corpus(
            d, "embedding", threshold=0.95, id_col="vec_id",
            candidates="ivf", n_cells=3, nprobe=1,
        ).collect()
    }
    # precision 1 ⇒ ivf removes only true duplicates ⇒ keeps a superset
    assert exact_kept <= ivf_kept
    # and on this coherently-clustered corpus the quantizer finds them
    assert ivf_kept != set(range(12))


def test_embedding_ivf_candidates_broadcast_path_identical(spark):
    """Above inline_cells_max the centroid table ships as broadcast DATA
    instead of C·d plan literals (the 100 TB plan-size bound, VERDICT
    r07 What's wrong #2). Same centroids ⇒ byte-identical candidate
    pairs from both paths, and the broadcast path's plan must not
    embed the centroid floats as expression literals."""
    from dump_es_parquet_spark.operators.dedup import embedding_ivf_candidates
    from dump_es_parquet_spark.operators.similarity import ivf_centroids_for

    rows = [
        (i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.01 * i])
        for i in range(12)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_rows = ivf_centroids_for(d, n_cells=3).collect()

    inline = embedding_ivf_candidates(d, cents_rows, nprobe=2)
    bcast = embedding_ivf_candidates(d, cents_rows, nprobe=2, inline_cells_max=0)
    pairs_inline = {(r.id_a, r.id_b) for r in inline.collect()}
    pairs_bcast = {(r.id_a, r.id_b) for r in bcast.collect()}
    assert pairs_inline == pairs_bcast and pairs_inline

    # the broadcast plan carries the centroids as data, not literals:
    # a centroid component rendered to its repr must not appear in the
    # optimized plan text (it DOES appear in the inline plan)
    marker = max(
        (repr(float(x)) for r in cents_rows for x in r["cv"]), key=len
    )
    assert len(marker) > 4  # distinctive, not a 0.0/1.0 every plan has
    inline_plan = inline._jdf.queryExecution().optimizedPlan().toString()
    bcast_plan = bcast._jdf.queryExecution().optimizedPlan().toString()
    assert marker in inline_plan
    assert marker not in bcast_plan


def test_dedup_corpus_releases_all_persisted_blocks(spark):
    """dedup_corpus must leave the block manager as it found it: the
    tracked caches unpersist in its finally block, and fixpoint rounds
    use reliable (file-backed) checkpoints, not block-manager persists
    — a long-lived session running dedup repeatedly accumulates no
    executor storage."""
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    base_txt = "alpha beta gamma delta epsilon zeta eta theta " * 8
    d = spark.createDataFrame(
        [(i, base_txt if i % 2 else f"unique words {i} " * 12) for i in range(20)],
        "doc_id long, text string",
    )
    # Compare RDD *id sets*, not sizes: earlier tests' dropped frames
    # are unpersisted asynchronously by the ContextCleaner, so the
    # total count can shrink mid-test; what must hold is that no NEW
    # id survives dedup_corpus.
    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    out = dedup_corpus(d, "minhash", threshold=0.7)
    assert persisted_ids() - before == set()
    assert out.count() >= 1  # materializing the result persists nothing new
    assert persisted_ids() - before == set()


def test_packing_matches_duckdb_prefix_sum(spark, sf_dir, con):
    """The distributed two-phase prefix sum (range partition → local
    window → driver-prefixed base offsets) produces EXACTLY the
    single-threaded window cumsum: offsets, sequence membership, and
    per-sequence fill all hash-match the DuckDB oracle."""
    from dump_es_parquet_spark.operators.packing import packing_summary

    got = [tuple(r) for r in packing_summary(spark, sf_dir, seq_len=512).collect()]
    want = con.execute(
        """
        WITH toks AS (
          SELECT doc_id,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
          FROM documents
        ),
        off AS (
          SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS tok_end
          FROM toks
        ),
        packed AS (
          SELECT s.seq_id, doc_id,
                 greatest(tok_end - n_tokens - s.seq_id * 512, 0) AS fill_start,
                 least(tok_end - s.seq_id * 512, 512) AS fill_end
          FROM off,
               LATERAL (SELECT unnest(range(
                   CAST((tok_end - n_tokens) // 512 AS BIGINT),
                   CAST((tok_end - 1) // 512 + 1 AS BIGINT))) AS seq_id) s
          WHERE n_tokens > 0
        )
        SELECT seq_id, count(*) AS n_docs,
               sum(fill_end - fill_start) AS n_filled
        FROM packed GROUP BY seq_id ORDER BY seq_id
        """
    ).fetchall()
    assert [tuple(map(int, r)) for r in got] == [tuple(map(int, r)) for r in want]
    # invariants: every non-tail sequence is exactly full
    fills = [int(r[2]) for r in got]
    assert all(f == 512 for f in fills[:-1]) and 0 < fills[-1] <= 512


def test_pack_sequences_slices_are_exact(spark):
    """Document slices tile each sequence with no gap/overlap and cover
    each document completely, including boundary straddles."""
    from dump_es_parquet_spark.operators.packing import pack_sequences

    d = spark.createDataFrame(
        [(1, 3), (2, 10), (3, 1), (4, 7), (5, 0), (6, 11)],
        "doc_id long, n_tokens long",
    )
    rows = pack_sequences(d, seq_len=8).collect()
    # doc 5 (empty) never appears
    assert all(r.doc_id != 5 for r in rows)
    # per sequence: slices tile [0, fill) contiguously
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r.seq_id, []).append((r.fill_start, r.fill_end))
    for sid, spans in by_seq.items():
        spans.sort()
        assert spans[0][0] == 0
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            assert b1 == a2
    # per doc: total sliced length == n_tokens
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + (r.fill_end - r.fill_start)
    assert per_doc == {1: 3, 2: 10, 3: 1, 4: 7, 6: 11}


def test_redact_pii_matches_duckdb(spark, con):
    """The sequential regexp_replace chain and per-pattern counts match
    DuckDB (RE2) applying the same patterns in the same order — the
    patterns stay in the regex subset both engines evaluate
    identically."""
    from dump_es_parquet_spark.operators.text import PII_PATTERNS, redact_pii

    rows = [
        (1, "contact bob@example.com or +1 (555) 123-4567 now"),
        (2, "server 10.0.0.1 logged card 4111111111111111 twice: 4111111111111111"),
        (3, "no pii here at all"),
        (4, "alice@sub.domain.org then 192.168.1.100 then alice@sub.domain.org"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_email, r.n_ipv4, r.n_card, r.n_phone, r.redacted)
        for r in redact_pii(d).collect()
    }
    for doc_id, text in rows:
        cur = text
        want_counts = []
        for name, pat, token in PII_PATTERNS:
            n, red = con.execute(
                "SELECT len(regexp_extract_all(?, ?)), regexp_replace(?, ?, ?, 'g')",
                [cur, pat, cur, pat, token],
            ).fetchone()
            want_counts.append(n)
            cur = red
        assert got[doc_id] == (*want_counts, cur), doc_id
    assert got[1][4] == "contact <EMAIL> or <PHONE> now"
    assert got[2][2] == 2  # both card numbers
    assert got[3] == (0, 0, 0, 0, "no pii here at all")


def test_chunking(spark, sf_dir):
    from dump_es_parquet_spark.operators.chunking import chunk_documents
    from dump_es_parquet_spark.operators.tables import load

    d = load(spark, sf_dir, "documents")
    ch = chunk_documents(d, chunk_tokens=64, stride=48)
    row = ch.first()
    assert row.n_chunk_tokens <= 64
    # every doc produces >=1 chunk; token coverage complete
    assert ch.select("doc_id").distinct().count() == d.count()
    one = ch.filter("doc_id = 1").orderBy("chunk_id").collect()
    toks = d.filter("doc_id = 1").first().text.split()
    # last chunk ends at the document's end
    assert one[-1].chunk_text.split()[-1] == toks[-1]
    # consecutive chunks overlap by chunk-stride tokens
    if len(one) > 1:
        assert one[0].chunk_text.split()[48:] == one[1].chunk_text.split()[: 64 - 48]


def test_corpus_curation_pipeline(spark, sf_dir):
    from dump_es_parquet_spark.operators.corpus import curate
    from dump_es_parquet_spark.operators.tables import load

    d = load(spark, sf_dir, "documents")
    chunks = curate(d, min_tokens=10, languages=("en", "es"), dedup="exact")
    assert chunks.columns == ["doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"]
    n = chunks.count()
    assert 0 < n
    # only en/es docs survive
    langs = (
        chunks.join(d, "doc_id").select("lang").distinct().collect()
    )
    assert {r.lang for r in langs} <= {"en", "es"}
    # no chunk exceeds the window
    assert chunks.agg({"n_chunk_tokens": "max"}).collect()[0][0] <= 64


def test_fingerprint_short_docs(spark, tmp_path):
    """Docs with fewer than 3 tokens still fingerprint: the shingle
    sequence is guarded with greatest(size-3, 0), so a 1- or 2-token
    doc yields one whole-text shingle instead of a descending range."""
    import hashlib

    from dump_es_parquet_spark.operators.text import fingerprint

    d = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""), (4, "exactly three tokens")],
        "doc_id long, text string",
    )
    d.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in fingerprint(spark, str(tmp_path)).collect()}
    assert len(out) == 4
    for doc_id, norm in ((1, "one"), (2, "two words"), (3, "")):
        h = hashlib.md5(norm.encode()).hexdigest()
        assert out[doc_id].fingerprint == h
        assert out[doc_id].min_shingle_hash == h
    assert (
        out[4].min_shingle_hash
        == hashlib.md5(b"exactly three tokens").hexdigest()
    )


def test_component_min_labels_fixpoint(spark):
    """Min-label propagation runs to fixpoint: in edges (1,3),(2,3),
    (2,4) the component minimum 1 is NOT adjacent to 2 or 4 — only
    iterated propagation labels the whole component with 1."""
    from dump_es_parquet_spark.operators.dedup import _component_min_labels

    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (2, 4), (10, 11)], "id_a long, id_b long"
    )
    labels = {r.node: r.label for r in _component_min_labels(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_corpus_minhash_chain(spark):
    """A 4-doc near-dup chain a≈b≈c≈d collapses to one survivor."""
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    base = ["w%d" % i for i in range(40)]
    rows = []
    text = base
    for i in range(4):
        rows.append((i + 1, " ".join(text)))
        text = text + ["extra%d" % i]  # each step appends one token
    d = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_corpus(d, "minhash", threshold=0.7).collect())
    assert kept == [1]


def test_dedup_corpus_minhash_threshold_honored(spark):
    """Band collisions below the Jaccard threshold are NOT removed:
    with threshold=0.99, docs at J≈0.9 survive (only the exact dup
    collapses). Previously raw LSH collisions deleted non-duplicates
    and the threshold parameter was silently unused."""
    from dump_es_parquet_spark.operators.dedup import dedup_corpus

    base = " ".join("t%d" % i for i in range(30))
    near = base + " tail_token"  # high-J near-dup, but < 0.99
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, near)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup_corpus(d, "minhash", threshold=0.99).collect())
    assert kept == [1, 3]


def test_ivf_inverted_lists_partition_corpus(spark, sf_dir):
    """IVF assignment is a partition: every vector lands in exactly one
    cell, cells cover the corpus, and probing is a strict subset."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.similarity import (
        IVF_CELLS,
        _ivf_assign,
        ivf_centroids,
    )
    from dump_es_parquet_spark.operators.tables import load

    e = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(spark, sf_dir)
    assert cents.count() == IVF_CELLS
    # every centroid has the full dimensionality
    dims = cents.select(F.size("cv").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [len(e.first().embedding)]
    inverted = _ivf_assign(e, cents)
    n = e.count()
    assert inverted.count() == n  # exactly one cell per vector
    assert inverted.select("vec_id").distinct().count() == n
    per_cell = inverted.groupBy("cid").count()
    assert per_cell.count() <= IVF_CELLS
    assert per_cell.agg(F.sum("count")).first()[0] == n


def test_ivf_index_artifact_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized IVF index serves the same top-k as the inline
    plan, and the probe reads only the probed cells (partition
    pruning visible in the scan)."""
    from dump_es_parquet_spark.operators.similarity import (
        ann_ivf,
        ann_ivf_indexed,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    write_ivf_index(spark, sf_dir, idx)
    served = ann_ivf_indexed(spark, sf_dir, idx)
    inline = ann_ivf(spark, sf_dir)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the lists scan must carry the cell filter, not scan-all-cells
    assert "cid" in plan.split("PartitionFilters")[1][:200]


def test_ivf_indexed_batch_matches_per_query(spark, sf_dir, tmp_path):
    """Batch serving from the materialized index returns, per query,
    exactly what single-query serving returns — via ONE pruned scan
    (the union of all probed cells) instead of Q jobs."""
    from dump_es_parquet_spark.operators.similarity import (
        ann_ivf_indexed,
        ann_ivf_indexed_batch,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivfb")
    write_ivf_index(spark, sf_dir, idx)
    n_queries, k = 4, 5
    batch = ann_ivf_indexed_batch(spark, sf_dir, idx, n_queries=n_queries, k=k)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.cell, r.cos_sim))
    assert set(got) == set(range(n_queries))
    for q in range(n_queries):
        single = [
            (r.vec_id, r.cell, r.cos_sim)
            for r in ann_ivf_indexed(spark, sf_dir, idx, query_id=q, k=k).collect()
        ]
        assert got[q] == single, f"query {q}"
    plan = batch._jdf.queryExecution().executedPlan().toString()
    # the lists scan is pruned to the probed cells and appears ONCE in
    # the FINAL plan (AQE echoes the initial plan below it; paths are
    # truncated, so count the pruned-scan marker — the centroids scan
    # has empty PartitionFilters)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("PartitionFilters: [cid") == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Same-bucketed tables join with zero shuffles — the pay-once
    co-location property (SURVEY §4 'reuse a partitioning')."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.bucketing import (
        cohorted_join,
        plan_has_no_shuffle,
        write_bucketed,
    )
    from dump_es_parquet_spark.operators.tables import load

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    write_bucketed(o, "t_orders_b", ["o_custkey"], 8, str(tmp_path / "ob"))
    write_bucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"),
        "t_customer_b",
        ["o_custkey"],
        8,
        str(tmp_path / "cb"),
    )
    # disable broadcast so the planner must pick a partitioned join —
    # that's the regime bucketing is for (at 100 TB neither side fits)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cohorted_join(spark, "t_orders_b", "t_customer_b", ["o_custkey"])
        assert plan_has_no_shuffle(j)
        # and the join is actually correct
        expect = o.join(c, o.o_custkey == c.c_custkey).count()
        assert j.count() == expect
        # a plain (non-bucketed) read of the same data DOES shuffle
        po = spark.read.parquet(str(tmp_path / "ob"))
        pc = spark.read.parquet(str(tmp_path / "cb"))
        assert not plan_has_no_shuffle(po.join(pc, ["o_custkey"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_mapinarrow_l2_normalize(spark, sf_dir):
    """Arrow-native normalization equals the pure-expression form and
    produces unit vectors."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.arrow_ops import l2_normalize_embeddings
    from dump_es_parquet_spark.operators.similarity import dot
    from dump_es_parquet_spark.operators.tables import load

    e = load(spark, sf_dir, "embeddings").limit(200)
    got = l2_normalize_embeddings(e)
    # every output vector has unit norm (within float32 tolerance)
    bad = got.select(
        (F.abs(F.sqrt(dot(F.col("unit"), F.col("unit"))) - 1.0) > 1e-5).alias("b")
    ).filter("b").count()
    assert bad == 0
    # matches the expression-based normalization elementwise
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    expr = e.select(
        "vec_id",
        F.transform("embedding", lambda x: (x / norm).cast("float")).alias("u2"),
    )
    j = got.select("vec_id", "unit").join(expr, "vec_id")
    diff = j.select(
        F.aggregate(
            F.zip_with("unit", "u2", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda s, x: F.greatest(s, x),
        ).alias("d")
    )
    assert diff.agg(F.max("d")).first()[0] < 1e-6
    # schema: original columns preserved + the new one appended
    assert got.columns == e.columns + ["unit"]
    assert got.count() == 200

def test_mapinarrow_l2_normalize_empty_null_tail(spark):
    """ADVICE r3: an empty/null embedding in the trailing row used to
    make the reduceat kernel IndexError (its start offset ==
    len(values)); empty rows mid-batch silently picked up the next
    segment's first element. Nulls must stay null, empties empty."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.arrow_ops import l2_normalize_embeddings

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, []), (3, None), (4, [0.0, 0.0]), (5, [])],
        "vec_id int, embedding array<float>",
    ).coalesce(1)
    rows = {
        r["vec_id"]: r["unit"]
        for r in l2_normalize_embeddings(df).collect()
    }
    assert rows[1] == pytest.approx([0.6, 0.8])
    assert rows[2] == []
    assert rows[3] is None
    assert rows[4] == [0.0, 0.0]  # zero vector passes through, no NaN
    assert rows[5] == []


def test_l2_normalize_kernel_sliced_batch():
    """The kernel must rebase a *sliced* ListArray: .values/.offsets on
    a slice still expose the parent buffers (offsets[0] != 0), which
    misaligns np.repeat against the flat values."""
    import pyarrow as pa

    from dump_es_parquet_spark.operators.arrow_ops import _l2_normalize_batch

    full = pa.table(
        {
            "vec_id": pa.array([0, 1, 2, 3], pa.int32()),
            "embedding": pa.array(
                [[9.0, 9.0], [3.0, 4.0], None, []], pa.list_(pa.float32())
            ),
        }
    )
    rb = full.to_batches()[0].slice(1, 3)  # drops row 0 → offsets[0] != 0
    out = _l2_normalize_batch(rb, "embedding", "unit")
    unit = out.column(out.schema.get_field_index("unit")).to_pylist()
    assert unit[0] == pytest.approx([0.6, 0.8])  # 9/… if buffers misaligned
    assert unit[1] is None
    assert unit[2] == []


def test_component_min_labels_driver_and_distributed_agree(spark, monkeypatch):
    """The adaptive small-edge union-find path must produce the exact
    (node, label) map the distributed fixpoint converges to — force
    each path in turn over a set with chains, a merged component whose
    minimum is never adjacent to half its members, and an isolated
    pair."""
    import dump_es_parquet_spark.operators.dedup as dd

    edges = [(1, 3), (2, 3), (2, 4), (10, 11), (5, 6), (6, 7), (7, 8), (4, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 10: 10, 11: 10, 5: 5, 6: 5, 7: 5, 8: 5}
    driver = {r.node: r.label for r in dd._min_labels_driver_union_find(pairs).collect()}
    assert driver == expected
    monkeypatch.setattr(dd, "SMALL_EDGE_UNION_FIND", -1)  # force fixpoint
    dist = {r.node: r.label for r in dd._component_min_labels(pairs).collect()}
    assert dist == expected


def test_component_min_labels_driver_path_string_ids(spark):
    """The union-find path must preserve the edge id type (dedup runs
    over long doc ids here, but the operator is generic)."""
    from dump_es_parquet_spark.operators.dedup import _min_labels_driver_union_find

    pairs = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "id_a string, id_b string"
    )
    out = _min_labels_driver_union_find(pairs)
    assert dict(out.dtypes) == {"node": "string", "label": "string"}
    assert {r.node: r.label for r in out.collect()} == {"a": "a", "b": "a", "c": "a"}


# --- round 17: fan_out (starved-scan mitigation) + load memo ---


def test_fan_out_preserves_rows_and_widens(spark, sf_dir):
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.tables import fan_out, load

    base = load(spark, sf_dir, "documents")
    fanned = fan_out(base, "doc_id", "text")
    # single-row-group testdata => the mitigation fires: full width
    assert fanned.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    assert fanned.columns == ["doc_id", "text"]
    assert sorted(r.doc_id for r in fanned.select("doc_id").collect()) == sorted(
        r.doc_id for r in base.select("doc_id").collect()
    )


def test_fan_out_blocks_filter_pushdown_below_exchange(spark, sf_dir):
    """The point of the observe() barrier: a deterministic filter must
    stay ABOVE the fan-out exchange (Catalyst pushes filters through a
    bare repartition back into the starved scan stage)."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.operators.tables import fan_out, load

    heavy = F.length(F.regexp_replace(F.col("text"), "a", "b")) > 2
    plan = (
        fan_out(load(spark, sf_dir, "documents"), "doc_id", "text")
        .filter(heavy)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CollectMetrics" in plan
    # operator order in the plan string: Filter prints BEFORE (above)
    # the Exchange it did not push through
    assert plan.index("Filter") < plan.index("Exchange")


def test_load_memo_returns_same_plan_object(spark, sf_dir):
    from dump_es_parquet_spark.operators.tables import load

    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    assert a is b  # scan-plan template reused (no data cached)


def test_one_slice_frame_arrow_semantics(spark):
    """one_slice_frame is Arrow-backed (r18): the rows must land
    EXACTLY — None stays NULL (never NaN, the pandas-path hazard),
    array columns round-trip, the frame is one partition, an empty
    row list yields an empty frame of the right schema, and a value
    its column cannot hold raises."""
    from dump_es_parquet_spark.operators.tables import one_slice_frame

    df = one_slice_frame(
        spark,
        [("a", None, [1.0, 2.0], True), ("b", 1.5, [], None)],
        "k string, v double, arr array<double>, flag boolean",
    )
    assert df.rdd.getNumPartitions() == 1
    rows = {r.k: r for r in df.collect()}
    assert rows["a"].v is None and rows["b"].v == 1.5
    assert rows["a"].arr == [1.0, 2.0] and rows["b"].arr == []
    assert rows["a"].flag is True and rows["b"].flag is None

    empty = one_slice_frame(spark, [], "k string, v double")
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    # a value the column cannot hold raises at construction
    import pyarrow as pa

    with pytest.raises(pa.ArrowInvalid):
        one_slice_frame(spark, [("a", 2**40)], "k string, n int")


class _SplitProbeStub:
    """Duck-typed frame for _scan_splits_at_least: non-local URIs have
    no cheap size probe, so the files-count>=width short-circuit must
    answer from the listing alone — touching .rdd there would run the
    full planning pass the probe exists to avoid (r17 percolate did
    exactly that on every construction; VERDICT r17 Next #8)."""

    def __init__(self, files, rdd_parts=None):
        self._files = files
        self._rdd_parts = rdd_parts
        self.rdd_touched = False

    def inputFiles(self):
        return list(self._files)

    @property
    def rdd(self):
        self.rdd_touched = True
        if self._rdd_parts is None:
            raise AssertionError("rdd planning pass must not run here")
        stub = self

        class _R:
            def getNumPartitions(self):
                return stub._rdd_parts

        return _R()


def test_split_probe_nonlocal_files_count_short_circuit():
    from dump_es_parquet_spark.operators.tables import (
        _scan_splits_at_least,
    )

    df = _SplitProbeStub([f"s3a://bucket/part-{i}.parquet" for i in range(32)])
    assert _scan_splits_at_least(df, 32) is True
    assert not df.rdd_touched


def test_split_probe_nonlocal_few_files_falls_back_to_rdd():
    from dump_es_parquet_spark.operators.tables import (
        _scan_splits_at_least,
    )

    # 2 object-store files, width 32: no size probe exists, the exact
    # rdd partition count is the only honest answer
    df = _SplitProbeStub(
        ["hdfs://nn/a.parquet", "hdfs://nn/b.parquet"], rdd_parts=4
    )
    assert _scan_splits_at_least(df, 32) is False
    assert df.rdd_touched
