"""Dedup, similarity, and text-analysis operators."""

import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.operators import (
    assign_ivf_lists,
    cosine_topk,
    embedding_near_dup_pairs,
    exact_dedup,
    exact_dup_stats,
    ivf_cosine_topk,
    ivf_pivots,
    minhash_candidates,
    minhash_dedup,
    ngram_jaccard_pairs,
    quality_score,
    simhash_dedup,
    with_detected_language,
    with_lsh_bucket,
    with_text_stats,
    document_fingerprint,
)
from tests.conftest import TESTDATA_SF

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest where nobody ever goes at night"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),                       # exact duplicate of 0
        (2, BASE + " extra trailing words", "en"),  # near duplicate of 0
        (3, "vollkommen anderer text der die deutsche sprache benutzt und "
            "nicht mit den anderen texten verwandt ist", "de"),
        (4, "completely different content about spark query engines and "
            "distributed columnar execution pipelines", "en"),
        (5, "  the   quick  brown fox jumps over the lazy dog and then runs far away "
            "into the deep dark forest where nobody ever goes at night ", "en"),  # ws-variant dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestExactDedup:
    def test_keeps_min_id(self, docs):
        kept = {r.doc_id for r in exact_dedup(docs).collect()}
        # 0,1,5 collapse (whitespace-normalized); representative = 0
        assert 0 in kept and 1 not in kept and 5 not in kept
        assert {2, 3, 4} <= kept

    def test_dup_stats(self, docs):
        stats = exact_dup_stats(docs).collect()
        assert len(stats) == 1
        assert stats[0].n_copies == 3
        assert stats[0].representative == 0

    def test_null_text_rows_all_kept(self, spark):
        rows = [(0, "same text", "en"), (1, "same text", "en"), (2, None, "en"), (3, None, "en")]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        kept = {r.doc_id for r in exact_dedup(d).collect()}
        # real dups collapse; unknown-content (NULL) rows are NOT dups of
        # each other and all survive
        assert kept == {0, 2, 3}
        assert exact_dup_stats(d).count() == 1


class TestMinhash:
    def test_finds_near_duplicates(self, docs):
        pairs = {(r.id_a, r.id_b) for r in minhash_dedup(docs, threshold=0.5).collect()}
        assert (0, 1) in pairs  # exact dup always survives
        assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
        # unrelated documents must not pair
        assert not any(3 in p or 4 in p for p in pairs)

    def test_high_recall_config_equals_exact_pairs(self, spark):
        """The d01 gate premise on a second corpus (sf0.001): with
        bands=32/rows=2 the candidates+verify output equals the EXACT
        \\W+ 3-gram Jaccard >= 0.7 pair set (miss prob per true pair
        ~ (1-0.49)^32 ~ 4e-10)."""
        from rust_geo_booleanop_spark.operators.dedup import (
            _hash_shingles,
            jaccard_verify,
            minhash_candidates,
        )

        d = spark.read.parquet(f"{TESTDATA_SF}/documents.parquet")
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_verify(
                minhash_candidates(d, num_perm=64, bands=32), d, threshold=0.7
            ).collect()
        }
        texts = {r.doc_id: r.text for r in d.collect()}
        ids = sorted(texts)
        sets = {i: set(_hash_shingles(texts[i] or "", 3).tolist()) for i in ids}
        expect = {}
        for i in ids:
            for j in ids:
                if i < j:
                    u = len(sets[i] | sets[j])
                    jac = len(sets[i] & sets[j]) / u if u else 1.0
                    if jac >= 0.7:
                        expect[(i, j)] = jac
        assert got == expect


class TestMinhashHotBandValve:
    """Round-5 scale valve: exact-dup classes are collapsed to one banded
    representative, so boilerplate-identical pages can no longer blow up
    a band bucket; pair sets must be IDENTICAL to the unvalved path."""

    def _mixed_corpus(self, spark):
        """Clean + duplicated corpus: unique prose, an exact-dup class
        with whitespace/case variants, a near-dup (non-exact) pair, and
        NULL/empty/whitespace-only texts (one signature class)."""
        rows = [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "completely different text about spark shuffle partitioning and skew"),
            (2, "THE quick   brown fox jumps over the lazy dog near the river bank"),
            (3, "the quick brown fox jumps over the lazy dog near the river bank "),
            (4, "the quick brown fox jumps over the lazy dog near the river shore"),
            (5, "another unrelated document mentioning bloom filters and bitmaps"),
            (6, None),
            (7, ""),
            (8, "   "),
            (9, "completely different text about spark shuffle partitioning and skew"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_pair_set_identical_to_unvalved(self, spark):
        d = self._mixed_corpus(spark)
        for bands in (8, 32):
            valved = {
                (r.id_a, r.id_b)
                for r in minhash_candidates(
                    d, num_perm=64, bands=bands, collapse_exact=True
                ).collect()
            }
            unvalved = {
                (r.id_a, r.id_b)
                for r in minhash_candidates(
                    d, num_perm=64, bands=bands, collapse_exact=False
                ).collect()
            }
            assert valved == unvalved, bands
            # exact-dup classes always pair (identical signatures)
            assert {(0, 2), (0, 3), (2, 3), (1, 9), (6, 7), (7, 8)} <= valved

    def test_boilerplate_corpus_bands_one_representative(self, spark):
        """10k identical docs: the banded relation holds ONE class (the
        hot-bucket pathology the unvalved self-join hits — bands x n^2
        rows through one bucket — never forms), and the candidate output
        is exactly the n*(n-1)/2 within-class pairs."""
        n = 10_000
        d = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.lit("parked domain placeholder page contact us for details").alias(
                "text"
            ),
        )
        cands = minhash_candidates(d, num_perm=64, bands=16, collapse_exact=True)
        assert cands.count() == n * (n - 1) // 2
        # the probabilistic join's input is class representatives: one
        # class => at most `bands` banded rows total
        from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

        n_classes = d.select(normalized_text_key("text")).distinct().count()
        assert n_classes == 1

    def test_max_band_df_bounds_distinct_text_buckets(self, spark):
        """Opt-in residual valve: distinct texts sharing a band bucket are
        dropped when the bucket's class frequency exceeds max_band_df
        (recall trade); a bound above every bucket's df changes nothing."""
        d = self._mixed_corpus(spark)
        base = {
            (r.id_a, r.id_b)
            for r in minhash_candidates(d, num_perm=64, bands=8).collect()
        }
        loose = {
            (r.id_a, r.id_b)
            for r in minhash_candidates(
                d, num_perm=64, bands=8, max_band_df=1_000
            ).collect()
        }
        assert loose == base
        tight = {
            (r.id_a, r.id_b)
            for r in minhash_candidates(
                d, num_perm=64, bands=8, max_band_df=1
            ).collect()
        }
        assert tight <= base


class TestSimhash:
    def test_near_dup_hamming(self, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_dedup(docs, max_hamming=10).collect()}
        assert pairs.get((0, 1)) == 0  # identical text -> identical simhash
        assert not any((3 in k or 4 in k) for k in pairs)

    def test_pigeonhole_recall_guarantee(self, spark):
        """n_blocks = max_hamming + 1: a pair whose differing bits are
        spread one-per-block across the OLD fixed 4x16-bit layout must
        still be found."""
        from rust_geo_booleanop_spark.operators.dedup import _simhash64

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
        variant = base + " lambda mu distinct suffix tokens"
        h = bin(_simhash64(base) ^ _simhash64(variant)).count("1")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_dedup(
                spark.createDataFrame(
                    [(0, base, "en"), (1, variant, "en")],
                    "doc_id long, text string, lang string",
                ),
                max_hamming=max(h, 1),
            ).collect()
        }
        # total recall: the pair MUST be reported at its true distance
        assert got.get((0, 1)) == h

    def test_d02_oracle_fixture_fresh(self):
        """The committed d02 oracle fixture must equal _simhash64 over the
        sf0.01 corpus — goes red when the signature math changes without
        rerunning scripts/gen_d02_oracle_fixture.py."""
        import os

        import pyarrow.parquet as pq

        from rust_geo_booleanop_spark.operators.dedup import _simhash64

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        fixture = {
            r["doc_id"]: r["simhash"]
            for r in pq.read_table(
                os.path.join(root, "tests", "oracle_fixtures", "d02_simhash_sf001.parquet")
            ).to_pylist()
        }
        docs = pq.read_table(
            "/root/testdata/sf0.01/documents.parquet", columns=["doc_id", "text"]
        ).to_pylist()
        assert len(fixture) == len(docs)
        for r in docs:
            assert fixture[r["doc_id"]] == _simhash64(r["text"]), r["doc_id"]


def _brute_jaccard(texts: dict, k: int = 3) -> dict:
    """Reference n-gram Jaccard: mirrors the operator's shingle definition."""
    sh = {}
    for i, t in texts.items():
        toks = t.strip().lower().split()
        if len(toks) < k:
            sh[i] = {" ".join(toks)}
        else:
            sh[i] = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
    out = {}
    for a in sorted(texts):
        for b in sorted(texts):
            if a < b:
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if inter:
                    out[(a, b)] = inter / union
    return out


class TestNgramJaccard:
    def test_matches_brute_force(self, docs):
        texts = {r.doc_id: r.text for r in docs.collect()}
        expected = {
            p: j for p, j in _brute_jaccard(texts).items() if j >= 0.3
        }
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()
        }
        assert got.keys() == expected.keys()
        for p in got:
            # exact equality is the intent: both sides perform the
            # identical int/int double division
            assert got[p] == expected[p]

    def test_exact_and_ws_dups_score_one(self, docs):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
        }
        assert got[(0, 1)] == 1.0
        assert got[(0, 5)] == 1.0  # whitespace-normalized identical
        assert not any(3 in p or 4 in p for p in got)

    def test_max_df_prunes_stop_shingles(self, spark):
        # every doc shares the boilerplate prefix; max_df kills those
        # shingles so only the genuinely-duplicated pair survives
        boiler = "this site uses cookies to improve your experience "
        rows = [(i, boiler + f"unique payload number {i} here", "en") for i in range(6)]
        rows.append((6, boiler + "unique payload number 5 here", "en"))  # dup of 5
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        pruned = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(d, threshold=0.5, max_df=3).collect()
        }
        assert pruned == {(5, 6)}

    def test_auto_max_df_engages_on_boilerplate_corpus(self, spark):
        """Default max_df='auto' (max(1000, 0.1% of corpus)): on a corpus
        where >1000 docs share a boilerplate shingle, the bound drops the
        stop-shingles — the candidate set stays the genuinely-duplicated
        pairs instead of the quadratic boilerplate clique."""
        from pyspark.sql import functions as F

        boiler = "all rights reserved terms of service apply "
        n = 1100
        base = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(boiler),
                F.lit("unique payload token "),
                F.col("id").cast("string"),
                F.lit(" extra words here"),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
        # one true near-dup pair on the unique tails
        dup = spark.createDataFrame(
            [(n, boiler + "unique payload token 7 extra words here", "en")],
            "doc_id long, text string, lang string",
        )
        d = base.unionByName(dup)
        got = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(d, threshold=0.5).collect()
        }
        assert got == {(7, n)}
        # the explicit exact mode (max_df=None) keeps the boilerplate
        # clique: every pair of the 20-doc sample shares 9 of 12 shingles
        # (jaccard 0.6) -> all C(20,2) pairs qualify
        exact_sample = (
            ngram_jaccard_pairs(d.filter(F.col("doc_id") < 20), threshold=0.5, max_df=None)
            .count()
        )
        assert exact_sample == 190


class TestTextOps:
    def test_stats_and_quality(self, docs):
        stats = {r.doc_id: r for r in with_text_stats(docs).collect()}
        assert stats[0].n_tokens == len(BASE.split())
        assert 0.0 < stats[0].space_ratio < 0.5
        q = {r.doc_id: r.quality for r in quality_score(docs).collect()}
        assert all(0.0 <= v <= 1.0 for v in q.values())

    def test_langid(self, docs):
        langs = {r.doc_id: r.detected_lang for r in with_detected_language(docs).collect()}
        assert langs[0] == "en"
        assert langs[3] == "de"

    def test_langid_accuracy_floor(self):
        """Every sentence in a 21-sample hand corpus (3 per supported
        language) must classify correctly — the quality floor for the
        widened stopword profiles."""
        from rust_geo_booleanop_spark.operators.text import detect_language

        corpus = {
            "en": [
                "the cat sat on the mat and it was happy with that",
                "this is the house that they have built for you and not for me",
                "she said that the weather in the north was cold for this time",
            ],
            "de": [
                "der hund ist mit der katze aus dem haus gelaufen und nicht zurück",
                "sie hat gesagt dass das wetter im norden auch noch kalt ist",
                "ein mann ist nach berlin gefahren um bei einem freund zu wohnen",
            ],
            "fr": [
                "le chat est dans la maison avec les enfants et pour le moment tout va bien",
                "elle a dit que le temps dans le nord est plus froid que dans le sud",
                "nous sommes dans une ville qui est connue pour ses musées et ses parcs",
            ],
            "es": [
                "el perro está en la casa con los niños y no quiere salir por la lluvia",
                "ella dijo que el tiempo en el norte es más frío que en el sur",
                "este es un libro que fue escrito para los estudiantes de la escuela",
            ],
            "it": [
                "il gatto è nella casa con i bambini e non vuole uscire per la pioggia",
                "questo è un libro che è stato scritto per gli studenti della scuola",
                "anche questa città è conosciuta per i suoi musei e per il mare",
            ],
            "pt": [
                "o gato está na casa com as crianças e não quer sair por causa da chuva",
                "ela disse que o tempo no norte é mais frio do que no sul",
                "este é um livro que foi escrito para os estudantes da escola",
            ],
            "nl": [
                "de kat zit in het huis met de kinderen en wil niet naar buiten",
                "zij zei dat het weer in het noorden ook nog koud is voor deze tijd",
                "dit is een boek dat voor de studenten van de school is geschreven",
            ],
        }
        wrong = [
            (lang, s, detect_language(s))
            for lang, sents in corpus.items()
            for s in sents
            if detect_language(s) != lang
        ]
        assert wrong == []
        assert detect_language("") == "unknown"
        assert detect_language("12345 67890 !!!") == "unknown"

    def test_pii_scrub(self, spark):
        from rust_geo_booleanop_spark.operators import pii_scrub

        rows = [
            (0, "contact me at john.doe+spam@example.co.uk or call +1 (555) 123-4567 now", "en"),
            (1, "no pii here just words", "en"),
            (2, "two mails a@b.io c@d.org and digits 555-867-5309", "en"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r.doc_id: r for r in pii_scrub(d).collect()}
        assert got[0].n_emails == 1 and got[0].n_phones == 1
        assert "<EMAIL>" in got[0].scrubbed and "<PHONE>" in got[0].scrubbed
        assert "john.doe" not in got[0].scrubbed and "555" not in got[0].scrubbed
        assert got[1].n_emails == 0 and got[1].n_phones == 0
        assert got[1].scrubbed == rows[1][1]
        assert got[2].n_emails == 2 and got[2].n_phones == 1

    def test_stopword_ratio(self, spark):
        from rust_geo_booleanop_spark.operators import with_stopword_ratio

        rows = [
            (0, "the cat and the dog", "en"),   # 3/5 stopwords
            (1, "buy cheap widgets today", "en"),  # 0/4
            (2, "   ", "en"),                   # blank -> 0.0
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r.doc_id: r.stopword_ratio for r in with_stopword_ratio(d).collect()}
        assert got[0] == 3.0 / 5.0
        assert got[1] == 0.0
        assert got[2] == 0.0

    def test_fingerprint_ws_invariant(self, docs):
        fps = {r.doc_id: r.fingerprint for r in document_fingerprint(docs).collect()}
        assert fps[0] == fps[5]
        assert fps[0] != fps[2]


class TestSimilarity:
    @pytest.fixture(scope="class")
    def embeddings(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        base = rng.standard_normal((10, 16)).astype("float32")
        rows = []
        for i in range(10):
            rows.append((i, [float(x) for x in base[i]], i % 3))
        # vec 10 = near-copy of vec 0
        rows.append((10, [float(x) + 0.01 for x in base[0]], 0))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def test_cosine_topk_self_first(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = cosine_topk(embeddings, queries, k=2).orderBy("rank").collect()
        assert top[0].vec_id == 0 and top[0].rank == 1  # self-match first
        assert top[1].vec_id == 10  # the near-copy second

    def test_lsh_bucket_stability(self, embeddings):
        b1 = {r.vec_id: r.lsh_bucket for r in with_lsh_bucket(embeddings, dim=16).collect()}
        b2 = {r.vec_id: r.lsh_bucket for r in with_lsh_bucket(embeddings, dim=16).collect()}
        assert b1 == b2  # deterministic
        assert b1[0] == b1[10]  # near-copies share the bucket

    def test_near_dup_pairs(self, embeddings):
        pairs = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(embeddings, dim=16, threshold=0.99).collect()
        }
        assert (0, 10) in pairs

    def test_ivf_list_assignment_total(self, embeddings):
        pivots = ivf_pivots(embeddings, stride=5)
        assert {r.pivot_id for r in pivots.collect()} == {0, 5, 10}
        assigned = assign_ivf_lists(embeddings, pivots).collect()
        # every vector lands in exactly one list; pivots self-assign
        assert len(assigned) == embeddings.count()
        lists = {r.vec_id: r.list_id for r in assigned}
        assert lists[0] == 0 and lists[5] == 5

    def test_ivf_topk_finds_self_and_near_copy(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = (
            ivf_cosine_topk(embeddings, queries, k=2, nprobe=2, stride=5)
            .orderBy("rank")
            .collect()
        )
        # vec 0 is its own pivot; near-copy 10 is pivot of the 2nd probed list
        assert top[0].vec_id == 0 and top[0].rank == 1
        assert top[1].vec_id == 10

    def test_multitable_lsh_recall_vs_exact(self, spark):
        """OR-amplified LSH must recover most exact near-dup pairs (the
        single-table construction measured only ~5% recall at this
        threshold) and emit no false positives."""
        from rust_geo_booleanop_spark.operators import cosine_near_dup_exact

        emb = spark.read.parquet(f"{TESTDATA_SF}/embeddings.parquet")
        exact = {(r.id_a, r.id_b) for r in cosine_near_dup_exact(emb, 0.3).collect()}
        lsh = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(
                emb, dim=64, threshold=0.3, n_planes=3, n_tables=12
            ).collect()
        }
        assert lsh <= exact  # precision 1 by construction (exact verify)
        assert len(exact) > 0
        assert len(lsh) / len(exact) >= 0.85

    def test_zero_vector_never_ranks_or_pairs(self, spark):
        """0/0 cosine must be NULL, not NaN — NaN sorts greatest in Spark
        and would win rank 1 for every query."""
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0, 0.0], 0),
            (2, [0.0, 0.0, 0.0, 0.0], 0),  # zero vector
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        queries = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = cosine_topk(emb, queries, k=3).orderBy("rank").collect()
        assert [r.vec_id for r in top[:2]] == [0, 1]
        assert all(r.vec_id != 2 or r.rank == 3 for r in top)
        assert all(r.cosine is None for r in top if r.vec_id == 2)
        pairs = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(emb, dim=4, threshold=0.5, n_planes=2).collect()
        }
        assert not any(2 in p for p in pairs)

    def test_kmeans_pivots_deterministic_and_better(self, spark):
        from rust_geo_booleanop_spark.operators import ivf_cosine_topk, kmeans_pivots

        emb = spark.read.parquet(f"{TESTDATA_SF}/embeddings.parquet")
        piv1 = sorted(
            (r.pivot_id, tuple(r.pivot_vec)) for r in kmeans_pivots(emb, k=8, iters=2).collect()
        )
        piv2 = sorted(
            (r.pivot_id, tuple(r.pivot_vec))
            for r in kmeans_pivots(emb.repartition(5), k=8, iters=2).collect()
        )
        assert piv1 == piv2  # bit-identical across partitionings
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        pivots = kmeans_pivots(emb, k=8, iters=2)
        got = ivf_cosine_topk(emb, queries, k=5, nprobe=2, pivots=pivots).collect()
        # each query finds itself at rank 1 (its own list is its nearest)
        self_ranked = {r.query_id for r in got if r.vec_id == r.query_id and r.rank == 1}
        assert self_ranked == {0, 1, 2}

    def test_ivf_is_deterministic(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        r1 = sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in ivf_cosine_topk(embeddings, queries, k=3, nprobe=2, stride=5).collect()
        )
        r2 = sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in ivf_cosine_topk(embeddings, queries, k=3, nprobe=2, stride=5).collect()
        )
        assert r1 == r2 and len(r1) > 0


class TestDedupClusters:
    def test_connected_components_min_label(self, spark):
        """Chain 1-2-3-4 (transitive near-dups), triangle 10-11-12, pair
        20-21: every node gets its component's MINIMUM id as the
        canonical representative, including multi-hop chains."""
        from rust_geo_booleanop_spark.operators import dedup_clusters

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
            "id_a long, id_b long",
        )
        got = {r.doc_id: r.cluster_rep for r in dedup_clusters(pairs).collect()}
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20,
        }

    def test_long_chain_converges(self, spark):
        from rust_geo_booleanop_spark.operators import dedup_clusters

        n = 40
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        got = {r.doc_id: r.cluster_rep for r in dedup_clusters(pairs).collect()}
        assert set(got.values()) == {0}
        assert len(got) == n + 1


class TestMinhashGolden:
    """Bit-identity pin for the minhash signature path (round-3 golden):
    _hash_shingles/minhash_signature values captured BEFORE the
    token-cache + vectorized band packing refactor. Any change to the
    token hashing, roll constant, permutation family, or finalizer — or a
    cache that leaks wrong values — trips here."""

    def test_signatures_bit_identical_with_and_without_cache(self):
        from rust_geo_booleanop_spark.operators.dedup import (
            _hash_shingles,
            _perm_params,
            minhash_signature,
        )

        a, b = _perm_params(8)
        cases = [
            ("the quick brown fox jumps over the lazy dog",
             [10881971890021203780, 1658365200481406752, 17177976396787444567,
              13978500375360594464],
             [3699434254035690659, 5135989265678170951, 5202868519395119040,
              84053207503103608]),
            ("pack my box with five dozen liquor jugs",
             [14053801368910916803, 582645232520237735, 17208278598765888106,
              2694752810715936865],
             [3243229077938254230, 661277178333788887, 61267167374592247,
              7593037643318585688]),
            ("the quick brown fox jumps over the lazy dog the quick brown fox",
             [10881971890021203780, 1658365200481406752, 17177976396787444567,
              13978500375360594464],
             [3699434254035690659, 5135989265678170951, 2842644459456549410,
              84053207503103608]),
            ("", [0],
             [1865242740838074494, 3838261596602324031, 379716981212367260,
              8668306691964858714]),
            ("one", [14489617718373642804],
             [8916603360611439144, 2118250756534590257, 9130763879890416878,
              9111971516463413517]),
            ("one two", [17898366591077449017],
             [6333759960010571936, 6832023112761632088, 3789235619113790393,
              1205834891181070478]),
        ]
        shared_cache: dict = {}
        for text, exp_h, exp_sig in cases:
            assert list(_hash_shingles(text, 3)[:4]) == exp_h
            assert list(_hash_shingles(text, 3, shared_cache)[:4]) == exp_h
            assert minhash_signature(text, 8, 3, a, b)[:4] == exp_sig
            assert minhash_signature(text, 8, 3, a, b, shared_cache)[:4] == exp_sig


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        from rust_geo_booleanop_spark.operators import with_repetition_stats

        rows = [
            (0, "a b a b a b c"),     # 7 toks, 3 distinct, top 2-gram "a b" x3
            (1, ""),                  # blank: all zeros
            (2, "only"),              # 1 tok: no 2-grams
            (3, "  x   y  x y  "),    # ws-noise: 4 toks, 2 distinct, "x y" x2
            (4, None),                # null text behaves like blank
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in with_repetition_stats(d).collect()}
        assert (got[0].n_tokens, got[0].n_distinct_tokens, got[0].top2gram_n) == (7, 3, 3)
        assert (got[1].n_tokens, got[1].n_distinct_tokens, got[1].top2gram_n) == (0, 0, 0)
        assert (got[2].n_tokens, got[2].n_distinct_tokens, got[2].top2gram_n) == (1, 1, 0)
        assert (got[3].n_tokens, got[3].n_distinct_tokens, got[3].top2gram_n) == (4, 2, 2)
        assert got[4].n_tokens == 0 and got[4].top2gram_n == 0


class TestUrlDedup:
    def _norm(self, spark, urls):
        from rust_geo_booleanop_spark.operators import normalize_url_col

        d = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                                  "doc_id long, url string")
        rows = d.withColumn("n", normalize_url_col("url")).orderBy("doc_id").collect()
        return [r.n for r in rows]

    def test_normalization_rules(self, spark):
        got = self._norm(spark, [
            # scheme+host lowercased, path case preserved
            "HTTPS://WWW.Site.COM/Path/A",
            # tracking-only query dropped + trailing slash stripped
            "https://site.com/page/4/?utm_source=feed&ref=99",
            # leading tracking param dropped, real param kept
            "https://site.com/p?utm_a=1&utm_b=2&q=1",
            # mid/trailing tracking params dropped, real params kept
            "https://site.com/p?q=1&fbclid=xyz&r=2&gclid=abc",
            # href= / preference= are NOT tracking params (anchored at ?/&)
            "https://site.com/p?href=x&preference=y",
            # no query, no trailing slash: host casing only
            "http://A.B.C/d/E",
        ])
        assert got == [
            "https://www.site.com/Path/A",
            "https://site.com/page/4",
            "https://site.com/p?q=1",
            "https://site.com/p?q=1&r=2",
            "https://site.com/p?href=x&preference=y",
            "http://a.b.c/d/E",
        ]

    def test_dedup_groups(self, spark):
        from rust_geo_booleanop_spark.operators import url_dedup

        rows = [
            (0, "HTTPS://Site.COM/a/?utm_source=x"),
            (1, "https://site.com/a"),
            (2, "https://site.com/a/?ref=7"),
            (3, "https://site.com/b"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r.url_norm: r for r in url_dedup(d).collect()}
        assert got["https://site.com/a"].n_dups == 3
        assert got["https://site.com/a"].canonical_doc_id == 0
        assert got["https://site.com/b"].n_dups == 1


class TestBoilerplateLines:
    def test_hand_computed(self, spark):
        from rust_geo_booleanop_spark.operators import remove_boilerplate_lines

        boiler = "accept cookies"
        rows = [
            (0, f"{boiler}\nunique zero\nshared pair"),
            (1, f"{boiler}\nunique one\nshared pair"),   # "shared pair" df=2 < 3: kept
            (2, f"{boiler}\n\n  unique two  "),          # blank line dropped, line trimmed
            (3, f"{boiler}\n{boiler}\nunique three"),    # dup boilerplate inside one doc
            (4, boiler),                                 # all-boilerplate doc -> empty
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in remove_boilerplate_lines(d, min_docs=3).collect()}
        assert len(got) == 5
        assert got[0].clean_text == "unique zero\nshared pair"
        assert (got[0].n_lines_kept, got[0].n_lines_removed) == (2, 1)
        assert got[1].clean_text == "unique one\nshared pair"
        assert got[2].clean_text == "unique two"
        assert (got[2].n_lines_kept, got[2].n_lines_removed) == (1, 1)
        # both in-doc copies of the boilerplate line are removed
        assert got[3].clean_text == "unique three"
        assert (got[3].n_lines_kept, got[3].n_lines_removed) == (1, 2)
        # fully-boilerplate document survives as a row with empty text
        assert got[4].clean_text == ""
        assert (got[4].n_lines_kept, got[4].n_lines_removed) == (0, 1)

    def test_line_order_preserved(self, spark):
        from rust_geo_booleanop_spark.operators import remove_boilerplate_lines

        # 12+ lines: string sort of positions would give 0,1,10,11,2,...
        text = "\n".join(f"line {i:x} payload" for i in range(13))
        d = spark.createDataFrame([(0, text)], "doc_id long, text string")
        got = remove_boilerplate_lines(d, min_docs=2).collect()[0]
        assert got.clean_text == text and got.n_lines_kept == 13


class TestGopherQualityFilter:
    def test_rules_and_first_reason(self, spark):
        from rust_geo_booleanop_spark.operators import gopher_quality_filter

        good = "the quick brown fox jumps with energy that will have been " * 5
        rows = [
            (0, good),                                   # keep
            (1, "too short"),                            # too_few_tokens
            (2, "a b c d e f g h i j " * 6),             # word_length (mean 1.0)
            (3, ("the of " + "12345 67890 " * 30)),      # non_alpha
            (4, ("word " * 60).strip()),                 # stopwords fires before repetition
            (5, None),                                   # null -> too_few_tokens
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in gopher_quality_filter(d, min_tokens=10).collect()
        }
        assert got[0].keep and got[0].fail_reason is None
        assert got[1].fail_reason == "too_few_tokens"
        assert got[2].fail_reason == "word_length"
        assert got[3].fail_reason == "non_alpha"
        # rule ORDER: doc 4 fails stopwords AND repetition_distinct; the
        # first rule in the chain wins
        assert got[4].fail_reason == "stopwords"
        assert got[5].fail_reason == "too_few_tokens" and not got[5].keep

    def test_repetition_rules(self, spark):
        from rust_geo_booleanop_spark.operators import gopher_quality_filter

        stop = "the of and that"
        rows = [
            # distinct_frac = 14/44 < 0.2 -> repetition_distinct
            (0, stop + " spam word " * 20),
            # distinct, but one dominant 2-gram: "alpha beta" 10/22 > 0.18
            (1, stop + " " + " ".join(f"alpha beta" for _ in range(9))),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in gopher_quality_filter(
                d, min_tokens=5, min_mean_word_len=1.0
            ).collect()
        }
        assert got[0].fail_reason == "repetition_distinct"
        assert got[1].fail_reason == "repetition_2gram"


class TestDecontaminate:
    def test_flags_overlap_and_counts(self, spark):
        from rust_geo_booleanop_spark.operators import decontaminate

        ev = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        rows = [
            # shares the 4-gram "beta gamma delta epsilon" with the eval doc
            (0, "zzz beta gamma delta epsilon yyy"),
            # disjoint vocabulary -> clean
            (1, "one two three four five six"),
            # shares individual words but no 4 consecutive ones -> clean
            (2, "alpha two beta three gamma four delta"),
            # verbatim copy of the eval doc -> both grams match
            (3, "alpha beta gamma delta epsilon"),
        ]
        tr = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in decontaminate(tr, ev, n=4).collect()}
        assert got[0].contaminated and got[0].n_matched == 1
        assert not got[1].contaminated and got[1].n_matched == 0
        assert not got[2].contaminated
        assert got[3].contaminated and got[3].n_matched == got[3].n_grams == 2

    def test_short_doc_whole_text_gram(self, spark):
        from rust_geo_booleanop_spark.operators import decontaminate

        # a doc shorter than n tokens contributes its whole token
        # sequence as ONE gram (the d03 clamp); an identical short eval
        # doc therefore matches it
        ev = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
        tr = spark.createDataFrame(
            [(0, "tiny doc"), (1, "tiny other")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in decontaminate(tr, ev, n=4).collect()}
        assert got[0].contaminated and got[0].n_grams == 1
        assert not got[1].contaminated

    def test_case_normalization(self, spark):
        from rust_geo_booleanop_spark.operators import decontaminate

        ev = spark.createDataFrame(
            [(9, "Alpha BETA gamma DELTA")], "doc_id long, text string"
        )
        tr = spark.createDataFrame(
            [(0, "alpha beta GAMMA delta")], "doc_id long, text string"
        )
        got = decontaminate(tr, ev, n=4).collect()
        assert got[0].contaminated


class TestSemanticDedup:
    def test_totality_reps_and_pair_consistency(self, spark):
        from rust_geo_booleanop_spark.operators import (
            embedding_near_dup_pairs,
            semantic_dedup,
        )

        emb = spark.read.parquet(f"{TESTDATA_SF}/embeddings.parquet")
        out = semantic_dedup(emb, dim=64, threshold=0.3).collect()
        n_vecs = emb.count()
        # totality: one row per vector, keep <=> own representative
        assert len(out) == n_vecs
        rep = {r.vec_id: r.cluster_rep for r in out}
        assert all(r.keep == (r.vec_id == r.cluster_rep) for r in out)
        # every pair's endpoints share a representative; reps are members
        pairs = embedding_near_dup_pairs(
            emb, dim=64, threshold=0.3, n_planes=3, n_tables=12
        ).collect()
        for p in pairs:
            assert rep[p.id_a] == rep[p.id_b]
        assert all(rep[v] in rep for v in rep)
        # at least one non-trivial cluster on this corpus, and singletons
        # keep themselves
        assert any(not r.keep for r in out)
        paired = {p.id_a for p in pairs} | {p.id_b for p in pairs}
        for r in out:
            if r.vec_id not in paired:
                assert r.keep and r.cluster_rep == r.vec_id


class TestDedupLines:
    def test_order_preserving_first_occurrence(self, spark):
        from rust_geo_booleanop_spark.operators import dedup_lines

        d = spark.createDataFrame(
            [(0, "a\nb\na\nc\nb"), (1, "x\n\n\ny"), (2, "only")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in dedup_lines(d).collect()}
        assert got[0].clean_text == "a\nb\nc"
        assert (got[0].n_lines_in, got[0].n_lines_out) == (5, 3)
        # repeated blank lines collapse to one
        assert got[1].clean_text == "x\n\ny"
        assert (got[1].n_lines_in, got[1].n_lines_out) == (4, 3)
        assert got[2].clean_text == "only" and got[2].n_lines_out == 1

    def test_trailing_newline_keeps_empty_line(self, spark):
        from rust_geo_booleanop_spark.operators import dedup_lines

        d = spark.createDataFrame([(0, "a\n")], "doc_id long, text string")
        r = dedup_lines(d).collect()[0]
        assert r.n_lines_in == 2 and r.clean_text == "a\n"


class TestBigramCollocations:
    def test_counts_and_score(self, spark):
        from rust_geo_booleanop_spark.operators import bigram_collocations

        d = spark.createDataFrame(
            [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
        )
        got = bigram_collocations(d, min_count=2, k=5).collect()
        assert len(got) == 1
        r = got[0]
        # pairs: (a,b)x3, (b,a)x1, (b,c)x1 -> N=5; unigrams a=3 b=3 c=1
        assert (r.w1, r.w2, r.pair_count) == ("a", "b", 3)
        assert r.score == (3.0 * 5.0) / (3.0 * 3.0)

    def test_deterministic_tiebreak_and_k(self, spark):
        from rust_geo_booleanop_spark.operators import bigram_collocations

        # four symmetric pairs with identical scores; (w1, w2) breaks ties
        d = spark.createDataFrame(
            [(0, "p q p q"), (1, "r s r s")], "doc_id long, text string"
        )
        got = bigram_collocations(d, min_count=1, k=3).collect()
        assert len(got) == 3
        assert [(r.w1, r.w2) for r in got] == sorted(
            (r.w1, r.w2) for r in got
        ) or got[0].score > got[-1].score
        a = bigram_collocations(d, min_count=1, k=3).collect()
        b = bigram_collocations(d.repartition(7), min_count=1, k=3).collect()
        assert [(r.w1, r.w2, r.pair_count, r.score) for r in a] == [
            (r.w1, r.w2, r.pair_count, r.score) for r in b
        ]


class TestSubstringDupStats:
    def test_window_coverage_and_flag(self, spark):
        from rust_geo_booleanop_spark.operators import substring_dup_stats

        # docs 0 and 1 share the 3-token window "a b c"; doc 2 is unique;
        # doc 3 is shorter than the window
        d = spark.createDataFrame(
            [
                (0, "a b c x y"),
                (1, "z a b c"),
                (2, "p q r s t"),
                (3, "u v"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in substring_dup_stats(d, window=3, threshold=0.5).collect()
        }
        assert len(got) == 4
        # doc 0: windows (a b c),(b c x),(c x y) -> 1 dup window covering
        # token positions 1-3 of 5
        r0 = got[0]
        assert (r0.n_tokens, r0.n_windows, r0.n_dup_windows) == (5, 3, 1)
        assert r0.covered_tokens == 3 and r0.dup_fraction == 3 / 5
        assert r0.flagged  # 0.6 >= 0.5
        # raising the threshold unflags it
        from rust_geo_booleanop_spark.operators import substring_dup_stats as sds
        strict = {r.doc_id: r for r in sds(d, window=3, threshold=0.7).collect()}
        assert not strict[0].flagged and strict[1].flagged
        # doc 1: dup window covers 3 of 4 tokens -> flagged at 0.5
        r1 = got[1]
        assert (r1.n_dup_windows, r1.covered_tokens) == (1, 3)
        assert r1.flagged
        # doc 2: no dups; doc 3: too short for any window
        assert got[2].n_dup_windows == 0 and not got[2].flagged
        assert (got[3].n_windows, got[3].dup_fraction) == (0, 0.0)

    def test_within_document_repeat_counts(self, spark):
        from rust_geo_booleanop_spark.operators import substring_dup_stats

        # the window "a b" occurs twice INSIDE one doc -> duplicated
        d = spark.createDataFrame(
            [(0, "a b q a b")], "doc_id long, text string"
        )
        r = substring_dup_stats(d, window=2).collect()[0]
        assert r.n_dup_windows == 2
        # covers positions {1,2} and {4,5}
        assert r.covered_tokens == 4 and r.dup_fraction == 4 / 5

    def test_overlapping_coverage_distinct_positions(self, spark):
        from rust_geo_booleanop_spark.operators import substring_dup_stats

        # both docs identical -> every window duplicated; coverage is the
        # whole doc, NOT windows * window_len
        d = spark.createDataFrame(
            [(0, "a b c d"), (1, "a b c d")], "doc_id long, text string"
        )
        for r in substring_dup_stats(d, window=2).collect():
            assert r.n_dup_windows == 3
            assert r.covered_tokens == 4 and r.dup_fraction == 1.0
            assert r.flagged


class TestEditVerifiedPairs:
    def test_blocked_and_verified(self, spark):
        from rust_geo_booleanop_spark.operators import edit_verified_pairs

        # 0/1/3 are single-char variants sharing the "b c d" window;
        # 2 shares windows with them but is far longer, so the length
        # lower bound + verify reject every pair involving it
        d = spark.createDataFrame(
            [
                (0, "a b c d e"),
                (1, "a b c d f"),
                (2, "a b c d e xxxxxxxx yyyyyyyy zzzzzzzz"),
                (3, "q b c d e"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id_a, r.doc_id_b): r.dist
            for r in edit_verified_pairs(d, window=3, max_dist=4).collect()
        }
        assert got == {(0, 1): 1, (0, 3): 1, (1, 3): 2}

    def test_max_df_blocks_boilerplate(self, spark):
        from rust_geo_booleanop_spark.operators import edit_verified_pairs

        d = spark.createDataFrame(
            [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
        )
        # df of every shared window is 2 > max_df=1 -> no candidates
        assert edit_verified_pairs(d, window=3, max_dist=9, max_df=1).count() == 0
        assert edit_verified_pairs(d, window=3, max_dist=9, max_df=2).count() == 1

    def test_identical_docs_dist_zero_and_determinism(self, spark):
        from rust_geo_booleanop_spark.operators import edit_verified_pairs

        d = spark.createDataFrame(
            [(0, "a b c d e"), (1, "  A   b C d E  ")],
            "doc_id long, text string",
        )
        rows = edit_verified_pairs(d, window=3, max_dist=2).collect()
        assert [(r.doc_id_a, r.doc_id_b, r.dist) for r in rows] == [(0, 1, 0)]
        r2 = edit_verified_pairs(d.repartition(5), window=3, max_dist=2).collect()
        assert [(r.doc_id_a, r.doc_id_b, r.dist) for r in r2] == [(0, 1, 0)]


class TestContainmentPairs:
    def test_quote_inside_long_doc(self, spark):
        from rust_geo_booleanop_spark.operators import containment_pairs

        # doc 0 is a 6-token quote fully contained in the 18-token doc 1
        # -> containment 1.0 even though Jaccard is small; doc 2 shares
        # nothing
        quote = "the quick brown fox jumps high"
        d = spark.createDataFrame(
            [
                (0, quote),
                (1, "intro words here then " + quote + " plus a long tail of extra words follows"),
                (2, "completely different content with no shared windows at all"),
            ],
            "doc_id long, text string",
        )
        rows = containment_pairs(d, window=3, threshold=0.8).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.doc_id_a, r.doc_id_b) == (0, 1)
        # doc 0 has 4 distinct 3-token windows, all inside doc 1
        assert r.n_windows_a == 4 and r.shared_windows == 4
        assert r.containment == 1.0

    def test_threshold_and_partial_overlap(self, spark):
        from rust_geo_booleanop_spark.operators import containment_pairs

        # docs share 2 of doc 0's 3 windows -> containment 2/3 < 0.8
        d = spark.createDataFrame(
            [(0, "a b c d e"), (1, "a b c d x")],
            "doc_id long, text string",
        )
        assert containment_pairs(d, window=3, threshold=0.8).count() == 0
        got = containment_pairs(d, window=3, threshold=0.5).collect()
        assert len(got) == 1 and got[0].containment == 2 / 3

    def test_max_df_drops_boilerplate_windows(self, spark):
        from rust_geo_booleanop_spark.operators import containment_pairs

        # the shared window appears in ALL four docs -> df 4 > max_df 3
        # -> no candidates at all
        d = spark.createDataFrame(
            [(i, "common shared window tail%d" % i) for i in range(4)],
            "doc_id long, text string",
        )
        assert containment_pairs(d, window=3, max_df=3).count() == 0


class TestZipfHistogram:
    def test_exact_buckets(self, spark):
        from rust_geo_booleanop_spark.operators import zipf_histogram

        # a: 1x (bucket 1), b: 2x (bucket 2), c: 3x (bucket 2),
        # d: 8x (bucket 4 — the ULP-dangerous exact power of two)
        d = spark.createDataFrame(
            [(0, "a b b c c"), (1, "c d d d d d d d d")],
            "doc_id long, text string",
        )
        got = {r.bucket: r for r in zipf_histogram(d).collect()}
        assert set(got) == {1, 2, 4}
        assert (got[1].n_types, got[1].total_occurrences) == (1, 1)
        assert (got[2].n_types, got[2].total_occurrences) == (2, 5)
        assert (got[4].n_types, got[4].total_occurrences) == (1, 8)
        assert [got[b].min_count for b in (1, 2, 4)] == [1, 2, 8]

    def test_determinism_across_partitioning(self, spark):
        from rust_geo_booleanop_spark.operators import zipf_histogram

        d = spark.createDataFrame(
            [(i, "x y " * (i % 5 + 1)) for i in range(40)],
            "doc_id long, text string",
        )
        a = sorted(map(tuple, zipf_histogram(d).collect()))
        b = sorted(map(tuple, zipf_histogram(d.repartition(13)).collect()))
        assert a == b


class TestEditClusters:
    def test_transitive_collapse(self, spark):
        from rust_geo_booleanop_spark.operators import (
            dedup_clusters,
            edit_verified_pairs,
        )

        # chain 0-1-2 within dist 1 hops (0 and 2 at dist 2 still join
        # the same component transitively); 3 unrelated
        d = spark.createDataFrame(
            [
                (0, "a b c d e"),
                (1, "a b c d f"),
                (2, "a b c d g"),
                (3, "p q r s t u v w"),
            ],
            "doc_id long, text string",
        )
        pairs = edit_verified_pairs(d, window=3, max_dist=1)
        got = {
            r.doc_id: r.cluster_rep
            for r in dedup_clusters(
                pairs, id_a="doc_id_a", id_b="doc_id_b"
            ).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0}


class TestVocabularyStats:
    def test_counts_types_hapax_ttr(self, spark):
        from rust_geo_booleanop_spark.operators import vocabulary_stats

        d = spark.createDataFrame(
            [
                (0, "en", "the cat sat on the mat"),
                (1, "en", "the dog"),
                (2, "de", "der der hund"),
            ],
            "doc_id long, lang string, text string",
        )
        got = {r.lang: r for r in vocabulary_stats(d).collect()}
        en = got["en"]
        # en tokens: the x3, cat, sat, on, mat, dog -> 8 tokens, 6 types,
        # 5 hapax (everything but "the")
        assert (en.n_tokens, en.n_types, en.n_hapax) == (8, 6, 5)
        assert en.type_token_ratio == 6.0 / 8.0
        de = got["de"]
        assert (de.n_tokens, de.n_types, de.n_hapax) == (3, 2, 1)

    def test_case_folding_and_partition_invariance(self, spark):
        from rust_geo_booleanop_spark.operators import vocabulary_stats

        d = spark.createDataFrame(
            [(i, "en", "The THE the word%d" % (i % 3)) for i in range(30)],
            "doc_id long, lang string, text string",
        )
        a = sorted(map(tuple, vocabulary_stats(d).collect()))
        b = sorted(map(tuple, vocabulary_stats(d.repartition(7)).collect()))
        assert a == b
        # "The"/"THE"/"the" fold to one type
        assert a[0][2] == 1 + 3  # "the" + word0/word1/word2


class TestLengthTokenCorrelation:
    def test_hand_computed_corr_and_slope(self, spark):
        import math

        from rust_geo_booleanop_spark.operators import length_token_correlation

        # (n_chars, tokens): perfectly measurable small set
        rows = [(0, "a", 10, "x y"), (1, "a", 20, "x y z w"),
                (2, "a", 30, "x y z w v u")]
        d = spark.createDataFrame(
            rows, "doc_id long, source string, n_chars int, text string"
        )
        r = length_token_correlation(d).collect()[0]
        xs, ys = [10, 20, 30], [2, 4, 6]
        n = 3
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = n * sxy - sx * sy
        denx, deny = n * sxx - sx * sx, n * syy - sy * sy
        assert r.n_docs == 3 and r.chars_sum == sx and r.tokens_sum == sy
        assert r.corr_chars_tokens == num / (math.sqrt(denx) * math.sqrt(deny))
        # collinear: 1.0 up to the last-ULP rounding of sqrt(a)*sqrt(b)
        assert abs(r.corr_chars_tokens - 1.0) < 1e-14
        assert r.ols_slope == num / denx

    def test_zero_variance_is_null_and_partition_invariance(self, spark):
        from rust_geo_booleanop_spark.operators import length_token_correlation

        d = spark.createDataFrame(
            [(i, "s%d" % (i % 2), 50, "one two three") for i in range(20)],
            "doc_id long, source string, n_chars int, text string",
        )
        got = {r.source: r for r in length_token_correlation(d).collect()}
        # constant x AND constant y -> both variance terms zero -> NULL
        assert got["s0"].corr_chars_tokens is None
        assert got["s0"].ols_slope is None
        a = sorted(map(tuple, length_token_correlation(d).collect()))
        b = sorted(
            map(tuple, length_token_correlation(d.repartition(7)).collect())
        )
        assert a == b

class TestHllSketch:
    def test_rank_matches_python_twin(self, spark):
        """Register/rank extraction vs a direct-bit-arithmetic CPython
        twin (int(md5,16) leading-zero count) on real tokens."""
        import hashlib

        from rust_geo_booleanop_spark.operators import hll_sketch

        words = ["alpha", "beta", "gamma", "delta", "shuffle", "join", "0", "z"]
        d = spark.createDataFrame([(" ".join(words),)], "text string")
        got = {
            r.register: r.max_rank for r in hll_sketch(d, p=8).collect()
        }
        exp: dict = {}
        for w in words:
            h = hashlib.md5(w.encode()).hexdigest()
            reg = h[:2]
            bits = int(h[2:18], 16)
            # leading zeros of a 64-bit value + 1
            rank = 65 if bits == 0 else 64 - bits.bit_length() + 1
            exp[reg] = max(exp.get(reg, 0), rank)
        assert got == exp

    def test_estimate_accuracy_wide_vocab(self, spark):
        """~4000 distinct synthetic tokens: the p=8 estimate must land
        within 3 standard errors (3 * 1.04/sqrt(256) ~= 20%)."""
        from rust_geo_booleanop_spark.operators import hll_estimate, hll_sketch

        n = 4000
        d = spark.range(40).select(
            F.concat_ws(
                " ",
                F.array([F.concat(F.lit("tok"), (F.col("id") * 100 + F.lit(i)).cast("string")) for i in range(100)]),
            ).alias("text")
        )
        rows = [(r.register, r.max_rank) for r in hll_sketch(d, p=8).collect()]
        est = hll_estimate(rows, p=8)
        assert abs(est - n) / n < 0.20, est

    def test_sketch_merges_by_max(self, spark):
        """sketch(A union B) == register-wise MAX of sketch(A), sketch(B)
        — the mergeability contract that makes the sketch shippable."""
        from rust_geo_booleanop_spark.operators import hll_sketch

        a = spark.createDataFrame([("red green blue",)], "text string")
        b = spark.createDataFrame([("blue cyan magenta key row",)], "text string")
        both = a.union(b)
        sa = {r.register: r.max_rank for r in hll_sketch(a).collect()}
        sb = {r.register: r.max_rank for r in hll_sketch(b).collect()}
        merged: dict = dict(sa)
        for k, v in sb.items():
            merged[k] = max(merged.get(k, 0), v)
        assert {
            r.register: r.max_rank for r in hll_sketch(both).collect()
        } == merged

    def test_bad_p_raises(self, spark):
        from rust_geo_booleanop_spark.operators import hll_sketch

        d = spark.createDataFrame([("x",)], "text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            hll_sketch(d, p=7)

class TestBm25Topk:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_rare_term_dominates(self, spark):
        """A doc matching the rare term outranks docs stuffed with the
        common term — the idf property BM25 exists for."""
        from rust_geo_booleanop_spark.operators import bm25_topk

        d = self._mk(
            spark,
            [
                (0, "join join join join join"),
                (1, "dup join"),
                (2, "join table scan"),
                (3, "table scan row"),
            ],
        )
        got = bm25_topk(d, terms=["dup", "join"], k=4).collect()
        assert got[0].doc_id == 1 and got[0].rank == 1
        assert [r.rank for r in got] == [1, 2, 3, 4]

    def test_score_matches_hand_formula(self, spark):
        """Exact score vs the same arithmetic in pure Python (identical
        operation order)."""
        from rust_geo_booleanop_spark.operators import bm25_topk

        rows = [
            (0, "a b a c"),
            (1, "a a a a b"),
            (2, "c c d"),
        ]
        d = self._mk(spark, rows)
        got = {r.doc_id: r.score for r in bm25_topk(d, terms=["a", "c"], k=3).collect()}
        toks = [r[1].split() for r in rows]
        n = len(rows)
        total = sum(len(t) for t in toks)
        k1, b = 1.5, 0.75
        for i, t in enumerate(toks):
            score = 0.0
            for term in ["a", "c"]:
                tf = float(t.count(term))
                df = float(sum(1 for tt in toks if term in tt))
                idf = (float(n) - df + 0.5) / (df + 0.5)
                dlnorm = float(len(t) * n) / float(total)
                score = score + (idf * (tf * (k1 + 1.0))) / (
                    tf + k1 * ((1.0 - b) + b * dlnorm)
                )
            assert got[i] == score and repr(got[i]) == repr(score), i

    def test_zero_match_docs_score_zero_and_tiebreak(self, spark):
        from rust_geo_booleanop_spark.operators import bm25_topk

        d = self._mk(spark, [(5, "x y"), (2, "x z"), (9, "x x")])
        got = bm25_topk(d, terms=["q"], k=3).collect()
        assert all(r.score == 0.0 for r in got)
        assert [r.doc_id for r in got] == [2, 5, 9]  # doc_id tiebreak

    def test_k_limits_output(self, spark):
        from rust_geo_booleanop_spark.operators import bm25_topk

        d = self._mk(spark, [(i, "w") for i in range(20)])
        assert bm25_topk(d, terms=["w"], k=7).count() == 7

    def test_bad_terms_raise(self, spark):
        from rust_geo_booleanop_spark.operators import bm25_topk

        d = self._mk(spark, [(0, "x")])
        with pytest.raises(ValueError):
            bm25_topk(d, terms=[])
        with pytest.raises(ValueError):
            bm25_topk(d, terms=["a", "a"])

class TestPqTopk:
    @pytest.fixture
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.standard_normal((20, 16)).astype("float32")
        rows = [(i, [float(x) for x in base[i]], 0) for i in range(20)]
        # vec 20 = near-copy of vec 3
        rows.append((20, [float(x) + 0.001 for x in base[3]], 0))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def _q(self, emb, vid):
        return emb.filter(F.col("vec_id") == vid).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    def test_self_ranks_first(self, emb):
        """A query that IS a corpus vector ranks itself #1: ADC(q, q) =
        sum of per-subspace MIN distances, a lower bound on every other
        vector's ADC (argmin-code property)."""
        from rust_geo_booleanop_spark.operators import pq_topk

        top = (
            pq_topk(emb, self._q(emb, 3), k=3, m=4, stride=7, dim=16)
            .orderBy("pq_rank")
            .collect()
        )
        assert top[0].vec_id == 3 and top[0].pq_rank == 1
        # the near-copy quantizes to (almost) the same codes -> small ADC
        assert 20 in {r.vec_id for r in top}

    def test_deterministic_under_repartition(self, emb):
        from rust_geo_booleanop_spark.operators import pq_topk

        q = self._q(emb, 0)
        a = sorted(
            (r.query_id, r.vec_id, r.pq_rank)
            for r in pq_topk(emb, q, k=5, m=4, stride=7, dim=16).collect()
        )
        b = sorted(
            (r.query_id, r.vec_id, r.pq_rank)
            for r in pq_topk(
                emb.repartition(7), q, k=5, m=4, stride=7, dim=16
            ).collect()
        )
        assert a == b and len(a) == 5

    def test_codes_are_nearest_pivot_subvectors(self, emb):
        """White-box: re-derive the expected codes in NumPy (same left
        fold) for one vector and check the ADC ordering respects them —
        via rank-1 of a query equal to a pivot's own vector."""
        from rust_geo_booleanop_spark.operators import pq_topk

        top = (
            pq_topk(emb, self._q(emb, 7), k=1, m=4, stride=7, dim=16).collect()
        )
        assert top[0].vec_id == 7  # pivot 7 quantizes to itself exactly

    def test_bad_dim_raises(self, emb):
        from rust_geo_booleanop_spark.operators import pq_topk

        with pytest.raises(ValueError):
            pq_topk(emb, self._q(emb, 0), m=5, dim=16)

class TestTokenFreqScore:
    def test_common_beats_rare(self, spark):
        from rust_geo_booleanop_spark.operators import token_freq_score

        d = spark.createDataFrame(
            [
                (0, "the the the the"),   # all common
                (1, "the zzz9 qqq7"),     # mixed
                (2, "zzz9 qqq7"),         # all rare (hapax-ish)
                (3, ""),                  # empty
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in token_freq_score(d).collect()}
        assert got[0].score > got[1].score > got[2].score
        assert got[3].n_tokens == 0 and got[3].score is None

    def test_exact_arithmetic(self, spark):
        from rust_geo_booleanop_spark.operators import token_freq_score

        d = spark.createDataFrame(
            [(0, "a a b"), (1, "b c")], "doc_id long, text string"
        )
        # counts: a=2, b=2, c=1; total=5
        got = {r.doc_id: r for r in token_freq_score(d).collect()}
        assert (got[0].n_tokens, got[0].freq_sum) == (3, 6)  # 2+2+2
        assert got[0].score == 6.0 / float(3 * 5)
        assert (got[1].n_tokens, got[1].freq_sum) == (2, 3)  # 2+1
        assert got[1].score == 3.0 / float(2 * 5)

class TestCmSketch:
    def test_estimate_overestimates_and_is_tight_without_collisions(self, spark):
        from rust_geo_booleanop_spark.operators import cm_estimate, cm_sketch

        d = spark.createDataFrame(
            [(0, "a a a b"), (1, "b c")], "doc_id long, text string"
        )
        rows = [(r.row_id, r.bucket, r.cnt) for r in cm_sketch(d).collect()]
        true = {"a": 3, "b": 2, "c": 1}
        for w, c in true.items():
            est = cm_estimate(rows, w)
            assert est >= c  # overestimate guarantee
            assert est <= sum(true.values())
        # 3 tokens in 4096 buckets: no collisions, estimates exact
        assert all(cm_estimate(rows, w) == c for w, c in true.items())
        assert cm_estimate(rows, "absent") == 0

    def test_merge_by_cell_addition(self, spark):
        from rust_geo_booleanop_spark.operators import cm_sketch

        a = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
        b = spark.createDataFrame([(1, "y z z w")], "doc_id long, text string")
        sa = {(r.row_id, r.bucket): r.cnt for r in cm_sketch(a).collect()}
        sb = {(r.row_id, r.bucket): r.cnt for r in cm_sketch(b).collect()}
        merged = dict(sa)
        for k, v in sb.items():
            merged[k] = merged.get(k, 0) + v
        both = {
            (r.row_id, r.bucket): r.cnt for r in cm_sketch(a.union(b)).collect()
        }
        assert both == merged

    def test_bad_depth_raises(self, spark):
        from rust_geo_booleanop_spark.operators import cm_sketch

        d = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            cm_sketch(d, depth=0)

class TestNewOpsRandomTwins:
    """Seeded-random twin batteries: every op recomputed independently in
    CPython/NumPy over a corpus large enough to exercise collisions,
    ties, and unicode — exact equality, not tolerances."""

    def test_bm25_random_corpus_exact(self, spark):
        import numpy as np

        from rust_geo_booleanop_spark.operators import bm25_topk

        rng = np.random.RandomState(23)
        vocab = ["join", "scan", "dup", "röw", "批", "x9"]
        rows = []
        for i in range(30):
            n = int(rng.randint(0, 12))
            rows.append((i, " ".join(vocab[j] for j in rng.randint(0, 6, n))))
        d = spark.createDataFrame(rows, "doc_id long, text string")
        terms = ["dup", "röw", "批"]
        got = [
            (r.doc_id, r.score, r.rank)
            for r in bm25_topk(d, terms=terms, k=30).orderBy("rank").collect()
        ]
        toks = {i: t.split() for i, t in rows}
        n_docs = sum(1 for t in toks.values())
        total = sum(len(t) for t in toks.values())
        k1, b = 1.5, 0.75
        scores = {}
        for i, t in toks.items():
            s = 0.0
            for term in terms:
                tf = float(t.count(term))
                df = float(sum(1 for tt in toks.values() if term in tt))
                idf = (float(n_docs) - df + 0.5) / (df + 0.5)
                dlnorm = float(len(t) * n_docs) / float(total)
                s = s + (idf * (tf * (k1 + 1.0))) / (
                    tf + k1 * ((1.0 - b) + b * dlnorm)
                )
            scores[i] = s
        exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got == [
            (doc, s, rk + 1) for rk, (doc, s) in enumerate(exp)
        ]

    def test_pq_random_vectors_exact_ranks(self, spark):
        import numpy as np

        from rust_geo_booleanop_spark.operators import pq_topk

        rng = np.random.RandomState(31)
        n, dim, m, stride, k = 60, 16, 4, 9, 12
        vecs = rng.standard_normal((n, dim)).astype("float32")
        d = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        q = d.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = sorted(
            (r.query_id, r.vec_id, r.pq_rank)
            for r in pq_topk(d, q, k=k, m=m, stride=stride, dim=dim).collect()
        )

        width = dim // m
        pivots = [i for i in range(n) if i % stride == 0]
        v64 = vecs.astype("float64")

        def l2sq(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + (float(x) - float(y)) * (float(x) - float(y))
            return acc

        codes = {}
        for i in range(n):
            codes[i] = []
            for s in range(m):
                sl = slice(s * width, (s + 1) * width)
                best = min(
                    (l2sq(v64[i][sl], v64[p][sl]), p) for p in pivots
                )
                codes[i].append(best[1])
        exp = []
        for qi in range(2):
            adcs = []
            for i in range(n):
                a = 0.0
                for s in range(m):
                    sl = slice(s * width, (s + 1) * width)
                    a = a + l2sq(v64[qi][sl], v64[codes[i][s]][sl])
                adcs.append((a, i))
            adcs.sort()
            exp.extend((qi, vid, rk + 1) for rk, (_, vid) in enumerate(adcs[:k]))
        assert got == sorted(exp)

    def test_hll_random_tokens_exact(self, spark):
        import hashlib

        import numpy as np

        from rust_geo_booleanop_spark.operators import hll_sketch

        rng = np.random.RandomState(41)
        words = [
            f"w{int(x)}" if x % 3 else f"ünï{int(x)}"
            for x in rng.randint(0, 10_000, 600)
        ]
        d = spark.createDataFrame(
            [(i, " ".join(words[i * 60 : (i + 1) * 60])) for i in range(10)],
            "doc_id long, text string",
        )
        got = {r.register: r.max_rank for r in hll_sketch(d, p=8).collect()}
        exp: dict = {}
        for w in words:
            h = hashlib.md5(w.encode()).hexdigest()
            bits = int(h[2:18], 16)
            rank = 65 if bits == 0 else 64 - bits.bit_length() + 1
            reg = h[:2]
            exp[reg] = max(exp.get(reg, 0), rank)
        assert got == exp

    def test_bm25_null_text_scores_zero(self, spark):
        from rust_geo_booleanop_spark.operators import bm25_topk

        d = spark.createDataFrame(
            [(0, "dup join"), (1, None), (2, "join")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in bm25_topk(d, terms=["dup"], k=3).collect()}
        assert got[1].score == 0.0
        assert got[0].rank == 1


class TestOovRate:
    def test_counts_against_known_vocab(self, spark):
        from rust_geo_booleanop_spark.operators import oov_rate

        # corpus: 'a' x6, 'b' x3, 'c' x1 -> top-2 vocab = {a, b}
        rows = [
            (1, "a a a b"),       # 4 tokens, 0 oov
            (2, "A b b c"),       # lowercased: a b b c -> 1 oov
            (3, "a a"),           # 0 oov
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
               for r in oov_rate(df, vocab_size=2).collect()}
        assert got == {
            1: (4, 0, 0.0),
            2: (4, 1, 1.0 / 4.0),
            3: (2, 0, 0.0),
        }

    def test_vocab_tie_break_is_token_ascending(self, spark):
        from rust_geo_booleanop_spark.operators import oov_rate

        # 'x' and 'y' both appear twice; vocab_size=1 must pick 'x'
        df = spark.createDataFrame(
            [(1, "x y"), (2, "y x")], "doc_id long, text string"
        )
        got = {r.doc_id: r.n_oov for r in oov_rate(df, vocab_size=1).collect()}
        assert got == {1: 1, 2: 1}  # 'y' is OOV in both docs

    def test_empty_and_null_text_drop_out(self, spark):
        from rust_geo_booleanop_spark.operators import oov_rate

        df = spark.createDataFrame(
            [(1, "a a"), (2, ""), (3, None), (4, "   ")],
            "doc_id long, text string",
        )
        got = {r.doc_id for r in oov_rate(df, vocab_size=5).collect()}
        assert got == {1}


class TestPackSequences:
    def test_bins_and_offsets(self, spark):
        from rust_geo_booleanop_spark.operators import pack_sequences

        rows = [
            ("en", 1, "t " * 3),   # 3 tokens: start 0, bin 0, off 0
            ("en", 2, "t " * 4),   # start 3, bin 0, off 3
            ("en", 3, "t " * 2),   # start 7, bin 1, off 2
            ("de", 10, "t " * 6),  # independent stratum: start 0
        ]
        df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.start_offset, r.bin_id, r.bin_offset)
               for r in pack_sequences(df, capacity=5).collect()}
        assert got == {
            1: (3, 0, 0, 0),
            2: (4, 3, 0, 3),
            3: (2, 7, 1, 2),
            10: (6, 0, 0, 0),
        }

    def test_zero_token_docs_keep_rows(self, spark):
        from rust_geo_booleanop_spark.operators import pack_sequences

        rows = [("en", 1, "a b"), ("en", 2, ""), ("en", 3, None), ("en", 4, "c")]
        df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.start_offset)
               for r in pack_sequences(df, capacity=10).collect()}
        assert got == {1: (2, 0), 2: (0, 2), 3: (0, 2), 4: (1, 2)}

    def test_deterministic_across_partitioning(self, spark):
        from rust_geo_booleanop_spark.operators import pack_sequences

        rows = [("en", i, "w " * (i % 7 + 1)) for i in range(200)]
        df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
        a = sorted(map(tuple, pack_sequences(df, capacity=16).collect()))
        b = sorted(map(tuple, pack_sequences(df.repartition(13), capacity=16).collect()))
        assert a == b
        # packed stream is gapless: start offsets are the prefix sums
        cum = 0
        for lang, doc_id, n, start, b_id, b_off in a:
            assert start == cum
            assert b_id == start // 16 and b_off == start % 16
            cum += n

    def test_rejects_nonpositive_capacity(self, spark):
        import pytest as _pytest

        from rust_geo_booleanop_spark.operators import pack_sequences

        df = spark.createDataFrame([("en", 1, "a")], "lang string, doc_id long, text string")
        with _pytest.raises(ValueError):
            pack_sequences(df, capacity=0)


class TestHammingTopk:
    def _sig(self, vec, lo, hi):
        s = 0
        for i in range(lo, min(hi, len(vec))):
            x = vec[i]
            # strict >0 under ENGINE semantics: Spark/DuckDB order NaN
            # greater than every number, so NaN sets the bit; None -> 0
            if x is not None and (x != x or x > 0):
                s |= 1 << (i - lo)
        return s

    def test_matches_numpy_brute_force(self, spark):
        import numpy as np

        from rust_geo_booleanop_spark.operators import hamming_topk

        rng = np.random.RandomState(11)
        vecs = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(60)]
        # inject adversarial components: zeros, -0.0, NaN
        vecs[3][1][0] = 0.0
        vecs[3][1][1] = -0.0
        vecs[4][1][63] = float("nan")
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        queries = df.filter("vec_id < 4").selectExpr(
            "vec_id AS query_id", "embedding AS query_vec"
        )
        got = {
            (r.query_id, r.rank): (r.vec_id, r.hamming)
            for r in hamming_topk(df, queries, k=3, dim=64).collect()
        }
        # brute-force twin over FLOAT32-rounded values (the table stores
        # float, so signs must come from the rounded value)
        f32 = {i: [float(np.float32(x)) for x in v] for i, v in vecs}
        sigs = {i: (self._sig(v, 0, 32), self._sig(v, 32, 64)) for i, v in f32.items()}
        for qid in range(4):
            qlo, qhi = sigs[qid]
            scored = sorted(
                (bin(lo ^ qlo).count("1") + bin(hi ^ qhi).count("1"), i)
                for i, (lo, hi) in sigs.items()
            )
            for rank, (d, i) in enumerate(scored[:3], start=1):
                assert got[(qid, rank)] == (i, d), (qid, rank)

    def test_self_is_rank_one_at_distance_zero(self, spark):
        import numpy as np

        from rust_geo_booleanop_spark.operators import hamming_topk

        rng = np.random.RandomState(5)
        vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(10)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter("vec_id = 7").selectExpr("vec_id AS query_id", "embedding AS query_vec")
        rows = hamming_topk(df, q, k=1, dim=16).collect()
        assert len(rows) == 1 and rows[0].vec_id == 7 and rows[0].hamming == 0

    def test_rejects_bad_dim(self, spark):
        from rust_geo_booleanop_spark.operators import binary_signature_cols

        with pytest.raises(ValueError):
            binary_signature_cols(dim=0)
        with pytest.raises(ValueError):
            binary_signature_cols(dim=65)


class TestTokenNovelty:
    def test_first_introduction_wins(self, spark):
        from rust_geo_booleanop_spark.operators import token_novelty

        rows = [
            (1, "a b c"),      # introduces a, b, c -> 3/3
            (2, "b c d"),      # introduces d -> 1/3
            (3, "A b"),        # lowercased: a b, nothing new -> 0/2
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_distinct, r.n_novel, r.novelty)
               for r in token_novelty(df).collect()}
        assert got == {
            1: (3, 3, 1.0),
            2: (3, 1, 1.0 / 3.0),
            3: (2, 0, 0.0),
        }

    def test_duplicate_tokens_counted_once(self, spark):
        from rust_geo_booleanop_spark.operators import token_novelty

        df = spark.createDataFrame([(1, "x x x y")], "doc_id long, text string")
        got = token_novelty(df).collect()[0]
        assert (got.n_distinct, got.n_novel) == (2, 2)

    def test_empty_docs_vanish(self, spark):
        from rust_geo_booleanop_spark.operators import token_novelty

        df = spark.createDataFrame(
            [(1, "a"), (2, ""), (3, None)], "doc_id long, text string"
        )
        assert {r.doc_id for r in token_novelty(df).collect()} == {1}


class TestDupNgramStats:
    def test_counts_positions_of_duplicated_grams(self, spark):
        from rust_geo_booleanop_spark.operators import dup_ngram_stats

        rows = [
            (1, "a b c a b c a b"),  # grams: abc bca cab abc bca cab ... let's verify below
            (2, "x y z w"),          # 2 grams, all unique
            (3, "q q q q"),          # 'q q q' x2 -> both positions duplicated
            (4, "s t"),              # < 3 tokens -> no row
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_grams, r.n_dup_positions, r.dup_frac)
               for r in dup_ngram_stats(df, n=3).collect()}
        # doc 1: 6 positions: abc bca cab abc bca cab? tokens a b c a b c a b
        #   grams: (a b c)(b c a)(c a b)(a b c)(b c a)(c a b) = each x2 -> 6 dup
        assert got[1] == (6, 6, 1.0)
        assert got[2] == (2, 0, 0.0)
        assert got[3] == (2, 2, 1.0)
        assert 4 not in got

    def test_case_folding_merges_grams(self, spark):
        from rust_geo_booleanop_spark.operators import dup_ngram_stats

        df = spark.createDataFrame(
            [(1, "A b C a B c")], "doc_id long, text string"
        )
        got = dup_ngram_stats(df, n=3).collect()[0]
        # lowercased: a b c a b c -> (a b c)(b c a)(c a b)(a b c): 'a b c' x2
        assert (got.n_grams, got.n_dup_positions) == (4, 2)

    def test_rejects_small_n(self, spark):
        from rust_geo_booleanop_spark.operators import dup_ngram_stats

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dup_ngram_stats(df, n=1)


class TestHammingHistogram:
    def _run(self, spark, vecs, sample_mod=1):
        from rust_geo_booleanop_spark.operators import hamming_histogram

        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        out = hamming_histogram(df, sample_mod=sample_mod, dim=len(vecs[0]))
        return {r.hamming: r.n_pairs for r in out.collect()}

    @staticmethod
    def _twin(vecs, sample_mod=1):
        import numpy as np

        sigs = []
        for i, v in enumerate(vecs):
            if i % sample_mod != 0:
                continue
            bits = 0
            for j, x in enumerate(v):
                # engine-semantics strict > 0: NaN sorts greater than 0
                # on Spark AND DuckDB, so it SETS the bit; -0.0/None -> 0
                if x is not None and (x != x or x > 0):
                    bits |= 1 << j
            sigs.append(bits)
        from collections import Counter

        c = Counter()
        for a in range(len(sigs)):
            for b in range(a + 1, len(sigs)):
                c[bin(sigs[a] ^ sigs[b]).count("1")] += 1
        return dict(c)

    def test_identical_vectors_all_zero_distance(self, spark):
        vecs = [[1.0, -1.0, 0.5, -0.5]] * 4
        assert self._run(spark, vecs) == {0: 6}

    def test_opposite_signs_max_distance(self, spark):
        vecs = [[1.0, 1.0, 1.0, 1.0], [-1.0, -1.0, -1.0, -1.0]]
        assert self._run(spark, vecs) == {4: 1}

    def test_sampling_drops_non_residue_ids(self, spark):
        vecs = [[1.0] * 4, [-1.0] * 4, [1.0] * 4, [-1.0] * 4]
        # ids 0 and 2 only -> one identical pair
        assert self._run(spark, vecs, sample_mod=2) == {0: 1}

    def test_matches_twin_random_including_edge_floats(self, spark):
        import random

        rng = random.Random(13)
        specials = [0.0, -0.0, float("nan"), 1e-30, -1e-30]
        vecs = []
        for _ in range(40):
            vecs.append(
                [
                    rng.choice(specials)
                    if rng.random() < 0.2
                    else rng.uniform(-1, 1)
                    for _ in range(16)
                ]
            )
        assert self._run(spark, vecs, sample_mod=3) == self._twin(vecs, sample_mod=3)


class TestWordLengthProfile:
    def _run(self, spark, rows):
        from rust_geo_booleanop_spark.operators import word_length_profile

        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = word_length_profile(df)
        return {
            (r.lang, r.word_len): (r.n_tokens, r.n_distinct_tokens, r.share)
            for r in out.collect()
        }

    @staticmethod
    def _twin(rows):
        from collections import Counter, defaultdict

        per = Counter()
        dist = defaultdict(set)
        tot = Counter()
        for _, text, lang in rows:
            toks = [t for t in (text or "").strip().lower().split() if t]
            for t in toks:
                per[(lang, len(t))] += 1
                dist[(lang, len(t))].add(t)
                tot[lang] += 1
        return {
            k: (n, len(dist[k]), float(n) / float(tot[k[0]]))
            for k, n in per.items()
        }

    def test_simple_strata(self, spark):
        rows = [(0, "aa bb ccc", "en"), (1, "Dd e", "en"), (2, "zz", "fr")]
        got = self._run(spark, rows)
        assert got == self._twin(rows)
        # 'aa','bb','dd' -> 3 tokens, 3 distinct at len 2 in en (case-folded)
        assert got[("en", 2)] == (3, 3, 3.0 / 5.0)

    def test_null_and_empty_text_contribute_nothing(self, spark):
        rows = [(0, None, "en"), (1, "   ", "en"), (2, "ok", "en")]
        assert self._run(spark, rows) == {("en", 2): (1, 1, 1.0)}

    def test_matches_twin_random(self, spark):
        import random

        rng = random.Random(5)
        words = ["a", "bb", "ccc", "dddd", "eeeee", "x", "yy", "zzz"]
        rows = []
        for i in range(80):
            rows.append(
                (
                    i,
                    " ".join(rng.choice(words) for _ in range(rng.randrange(0, 12))),
                    rng.choice(("en", "fr", "de")),
                )
            )
        assert self._run(spark, rows) == self._twin(rows)


class TestDirtyTextEdges:
    def test_normalize_url_strips_dangling_separator(self, spark):
        """Regression: '?ref=1&' -> '?' via the first-position rule left
        a dangling '?', so '/p?' failed to collapse with '/p'."""
        from rust_geo_booleanop_spark.operators.text import normalize_url_col

        df = spark.createDataFrame(
            [
                ("http://a.com/p?ref=1&",),
                ("http://a.com/p",),
                ("http://a.com/p?utm_x=1",),
                ("http://a.com/p?a=1&",),
            ],
            "url string",
        )
        got = [r.n for r in df.select(normalize_url_col("url").alias("n")).collect()]
        assert got == ["http://a.com/p"] * 3 + ["http://a.com/p?a=1"]

    def test_dedup_lines_null_text_behaves_like_empty(self, spark):
        """Regression: legacy size(NULL) = -1 emitted nonsense negative
        line counts and NULL clean_text for NULL-text documents."""
        from rust_geo_booleanop_spark.operators.text import dedup_lines

        df = spark.createDataFrame([(1, None), (2, "")], "doc_id int, text string")
        got = {r.doc_id: (r.clean_text, r.n_lines_in, r.n_lines_out)
               for r in dedup_lines(df).collect()}
        assert got[1] == got[2] == ("", 1, 1)

    def test_decontaminate_blank_docs_own_no_grams(self, spark):
        """Regression: the short-doc clamp handed blank documents the
        empty-string gram '', so one blank eval doc marked every blank
        training doc contaminated despite sharing no content."""
        from rust_geo_booleanop_spark.operators.text import decontaminate

        train = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, None), (4, "real shared content here")],
            "doc_id int, text string",
        )
        ev = spark.createDataFrame(
            [(100, ""), (101, "real shared content here")], "doc_id int, text string"
        )
        got = {r.doc_id: r.contaminated for r in decontaminate(train, ev).collect()}
        # blank/NULL train docs produce no gram rows at all (explode of
        # an empty array), so they cannot be flagged; the real overlap is
        assert got == {4: True}

    def test_heavy_hitters_excludes_null_values(self, spark):
        """NULL carries no value identity (like COUNT(col)): a column
        that is mostly NULL must not emit a NULL heavy-hitter row, and
        the fraction denominator stays the FULL row count."""
        from rust_geo_booleanop_spark.operators.sketch import heavy_hitters

        rows = [(None,)] * 50 + [("a",)] * 45 + [("b",)] * 5
        df = spark.createDataFrame(rows, "v string")
        got = {r.v: r.n for r in heavy_hitters(df, "v", threshold_frac=0.05).collect()}
        assert got == {"a": 45, "b": 5}


class TestDedupContractEdges:
    def test_simhash_exact_match_radius_works(self, spark):
        """Regression: max_hamming=0 means ONE 64-bit block whose
        all-ones mask must ride as two's-complement -1 — F.lit(2^64-1)
        is not a Spark long and failed analysis."""
        from rust_geo_booleanop_spark.operators.dedup import simhash_dedup

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zzz qqq www")],
            "doc_id int, text string",
        )
        got = {(r.id_a, r.id_b) for r in simhash_dedup(df, max_hamming=0).collect()}
        assert (1, 2) in got and all(h == 0 for h in
            [r.hamming for r in simhash_dedup(df, max_hamming=0).collect()])

    def test_simhash_dedup_rejects_uncoverable_radius(self, spark):
        """max_hamming > 31 cannot keep the pigeonhole TOTAL-recall
        guarantee (32-block cap) — must raise, not silently go partial."""
        import pytest

        from rust_geo_booleanop_spark.operators.dedup import simhash_dedup

        df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_dedup(df, max_hamming=32)

    def test_minhash_rejects_non_divisible_bands(self, spark):
        """bands > num_perm gives rows=0 (every band chunk empty -> every
        doc collides with every doc, an N^2 join); non-divisible values
        silently drop tail permutations — both rejected."""
        import pytest

        from rust_geo_booleanop_spark.operators.dedup import minhash_candidates

        df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
        for num_perm, bands in ((16, 32), (100, 16)):
            with pytest.raises(ValueError, match="bands must divide"):
                minhash_candidates(df, num_perm=num_perm, bands=bands)

    def test_containment_identical_docs_score_one_despite_boilerplate(self, spark):
        """Regression: windows over the df bound were excluded from the
        shared count but NOT the denominators, so two byte-identical
        boilerplate-heavy documents scored below 1.0 (and below the
        threshold). The df bound now defines one consistent space."""
        from rust_geo_booleanop_spark.operators.dedup import containment_pairs

        boiler = " ".join(f"nav{i}" for i in range(16))  # 9 windows at w=8
        uniq = lambda d: " ".join(f"tok{d}_{i}" for i in range(8))  # 1 window
        rows = [(i, f"{boiler} {uniq(i)}") for i in range(6)]
        rows += [(100, f"{boiler} shared unique tail content here now ok yes"),
                 (101, f"{boiler} shared unique tail content here now ok yes")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        # max_df=4: the boilerplate windows (df=8) are boilerplate; the
        # identical pair (100, 101) must still score containment == 1.0
        got = {(r.doc_id_a, r.doc_id_b): r.containment
               for r in containment_pairs(df, window=8, threshold=0.8, max_df=4).collect()}
        assert got.get((100, 101)) == 1.0
