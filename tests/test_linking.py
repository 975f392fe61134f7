"""Tests for PageRank/TextRank (G5), candidates (V2), disambiguation
(V3/W4), and the E3 entity-linking pipeline."""

import math
import random
import sys

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.pagerank import pagerank
from erkg_tutorials_spark.linking.candidates import alias_candidates
from erkg_tutorials_spark.linking.embed import (
    cosine,
    embed_column,
    hashing_embed,
    hashing_encode,
)
from erkg_tutorials_spark.pipelines.entity_linking import (
    run_entity_linking,
    with_self_aliases,
)
from erkg_tutorials_spark.text.textrank import textrank_phrases


class TestPageRank:
    def test_ranks_sum_to_one(self, spark):
        edges = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in [(1, 2), (2, 3), (3, 1), (1, 3)]]
        )
        ranks = pagerank(edges, max_iter=8).collect()
        assert math.isclose(sum(r["rank"] for r in ranks), 1.0, rel_tol=1e-6)

    def test_hub_ranks_highest(self, spark):
        # star graph: everyone points at 0
        edges = spark.createDataFrame([Row(src=i, dst=0) for i in range(1, 6)])
        ranks = {r["id"]: r["rank"] for r in pagerank(edges, max_iter=10).collect()}
        assert ranks[0] == max(ranks.values())

    def test_namespaced_independence(self, spark):
        edges = spark.createDataFrame(
            [
                Row(doc_id=1, src="a", dst="b"),
                Row(doc_id=1, src="b", dst="a"),
                Row(doc_id=2, src="x", dst="y"),
            ]
        )
        ranks = pagerank(edges, max_iter=5, namespace_col="doc_id").collect()
        by_ns = {}
        for r in ranks:
            by_ns.setdefault(r["doc_id"], 0.0)
            by_ns[r["doc_id"]] += r["rank"]
        assert all(math.isclose(s, 1.0, rel_tol=1e-6) for s in by_ns.values())


class TestTextRank:
    def test_phrases_shape_and_counts(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="spark makes spark pipelines fast and spark scalable")]
        )
        rows = textrank_phrases(docs, max_iter=5).collect()
        by_phrase = {r["phrase"]: r for r in rows}
        assert by_phrase["spark"]["count"] == 3
        # the most repeated, most connected token ranks highest
        assert max(rows, key=lambda r: r["rank"])["phrase"] == "spark"


class TestEmbedding:
    def test_deterministic_and_normalized(self):
        a = hashing_encode(["hello world"], 64)
        b = hashing_encode(["hello world"], 64)
        assert (a == b).all()
        assert math.isclose(float((a**2).sum()), 1.0, rel_tol=1e-5)

    def test_cosine_identical_is_one(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma")])
        df = embed_column(df, "text", "e1")
        df = df.withColumn("e2", F.col("e1"))
        val = df.select(cosine("e1", "e2").alias("c")).collect()[0]["c"]
        assert math.isclose(val, 1.0, rel_tol=1e-6)


    def test_jvm_tier_bit_equal_to_numpy_reference(self, spark):
        """hashing_embed reproduces hashing_encode bit for bit: Python's
        str.split() separators (every isspace() code point), case
        mappings that change length or depend on context, accents,
        empty and null text."""
        seps = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
        words = [
            "İstanbul", "İ", "ΣΟΦΟΣ", "ΟΔΟΣ.", "Σ", "σοφός", "ς", "café",
            "naïve", "Ärger", "straße", "Ǆemal", "ﬁne", "ÉCOLE", "x", "Acme",
            "acme", "\u200bzw", "bom\ufeff",
        ]
        rng = random.Random(20)
        texts = ["", None, "   ", "ΣΑΣ ΣΑΣ", "İİ", "".join(seps) + "lead and trail" + "".join(seps)]
        for _ in range(600):
            texts.append(
                "".join(rng.choice(words) + rng.choice(seps) for _ in range(rng.randint(0, 30)))
            )
        df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
        cases = [(dim, norm) for dim in (7, 16, 64, 100) for norm in (True, False)]
        rows = df.select(
            "i", *[hashing_embed("t", d, nm).alias(f"e{k}") for k, (d, nm) in enumerate(cases)]
        ).collect()
        rows.sort(key=lambda r: r["i"])
        for k, (dim, norm) in enumerate(cases):
            got = np.array([r[f"e{k}"] for r in rows], dtype=np.float32)
            want = hashing_encode(texts, dim, norm)
            bad = np.flatnonzero((got.view(np.uint32) != want.view(np.uint32)).any(axis=1))
            assert bad.size == 0, (dim, norm, [texts[i] for i in bad[:3]])


class TestCandidates:
    def test_caches_nothing(self, spark):
        """Each side is read once, so nothing is left pinned."""
        sc = spark.sparkContext
        before = set(sc._jsc.getPersistentRDDs().keys())
        mentions = spark.createDataFrame([Row(mention_id="m1", text="machine learn")])
        aliases = spark.createDataFrame([Row(alias="machine learning")])
        assert alias_candidates(mentions, aliases).collect()
        assert set(sc._jsc.getPersistentRDDs().keys()) == before

    def test_exact_match_always_candidate(self, spark):
        """SURVEY.md §7 invariant: exact match is always retrieved."""
        mentions = spark.createDataFrame(
            [Row(mention_id="m1", text="machine learning")]
        )
        aliases = spark.createDataFrame(
            [Row(alias="machine learning"), Row(alias="deep learning")]
        )
        got = alias_candidates(mentions, aliases).collect()
        exact = [r for r in got if r["alias"] == "machine learning"]
        assert len(exact) == 1 and exact[0]["jaccard"] == 1.0

    def test_fuzzy_match_retrieved(self, spark):
        """Reference behavior: 'machine learn' hits 'machine learning'
        (dev.ipynb cell 82)."""
        mentions = spark.createDataFrame([Row(mention_id="m1", text="machine learn")])
        aliases = spark.createDataFrame(
            [Row(alias="machine learning"), Row(alias="quantum finance")]
        )
        got = {r["alias"] for r in alias_candidates(mentions, aliases).collect()}
        assert "machine learning" in got
        assert "quantum finance" not in got


class TestEntityLinkingPipeline:
    @pytest.fixture(scope="class")
    def kb(self, spark):
        entities = spark.createDataFrame(
            [
                Row(entity_id="1", type="ORG", name="acme holdings",
                    description="acme holdings, located at 1 main st, in panama"),
                Row(entity_id="2", type="PER", name="maria silva",
                    description="maria silva, born 1970, in panama"),
            ]
        )
        aliases = spark.createDataFrame(
            [
                Row(alias="acme", entities=["1"], probabilities=[1.0]),
                Row(alias="silva", entities=["2", "1"], probabilities=[0.75, 0.25]),
            ]
        )
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, text="the acme holdings filing names maria silva and acme in panama"),
                Row(doc_id=2, text="unrelated text about offshore finance and shell companies"),
            ]
        )
        return docs, entities, aliases

    def test_end_to_end(self, spark, kb):
        docs, entities, aliases = kb
        out = run_entity_linking(docs, entities, aliases)
        mentions = out["mentions"].collect()
        assert mentions, "ruler found no mentions"
        linked = [m for m in mentions if m["kb_id"] != ""]
        assert linked, "no mention was linked"
        # the doc-1 'acme holdings' mention links to entity 1
        acme = [m for m in mentions if m["text"] == "acme holdings"]
        assert acme and acme[0]["kb_id"] == "1"
        # review report only contains unlinked mentions
        review = out["review"].collect()
        assert all(r["kb_id"] == "" for r in review)

    def test_self_aliases_union(self, spark, kb):
        _, entities, aliases = kb
        merged = with_self_aliases(aliases, entities).collect()
        self_rows = [r for r in merged if r["alias"] == "maria silva"]
        assert self_rows and self_rows[0]["entities"] == ["2"]
        assert self_rows[0]["probabilities"] == [1.0]


class TestShapeNER:
    """N2 golden tests — the reference's unlinked-entities report
    (tutorial.ipynb cell 26) surfaces model-NER mentions the KB can't
    link: Khadija Ismayilova / Barack Obama / Londex Resources S.A.
    The shape tier must recall exactly those from dictionary-free text."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                Row(
                    doc_id=1,
                    text="Investigative reporter Khadija Ismayilova met Barack Obama "
                    "at the offices of Londex Resources S.A. last spring .",
                ),
                Row(
                    doc_id=2,
                    text="The azerbaijan laundromat moved funds through offshore shells .",
                ),
            ]
        )

    def test_reference_shaped_entities_recalled(self, spark):
        from erkg_tutorials_spark.text.ner import shape_ner

        got = {
            (r.text, r.label)
            for r in shape_ner(self._docs(spark)).collect()
        }
        assert ("Khadija Ismayilova", "PERSON") in got
        assert ("Barack Obama", "PERSON") in got
        assert ("Londex Resources S.A.", "ORG") in got
        # all-lowercase doc contributes nothing; sentence-start singleton
        # "Investigative" is dropped, "The" never starts a span
        texts = {t for t, _ in got}
        assert "Investigative" not in texts
        assert not any(t.startswith("The ") for t in texts)

    def test_ner_mentions_flow_to_unlinked_report(self, spark):
        from erkg_tutorials_spark.pipelines.entity_linking import (
            extract_mentions,
            link_entities,
        )

        docs = self._docs(spark)
        entities = spark.createDataFrame(
            [Row(entity_id="E1", name="acme corp", description="a company")]
        )
        aliases = spark.createDataFrame(
            [Row(alias="acme corp", entities=["E1"], probabilities=[1.0])]
        )
        kb = with_self_aliases(aliases, entities)
        mentions = extract_mentions(docs, kb, with_shape_ner=True)
        got = {r.text for r in mentions.collect()}
        assert {"Khadija Ismayilova", "Barack Obama", "Londex Resources S.A."} <= got

        linked = link_entities(docs, mentions, kb, entities)
        unlinked = {r.text for r in linked.where(F.col("kb_id") == "").collect()}
        assert {"Khadija Ismayilova", "Barack Obama", "Londex Resources S.A."} <= unlinked

    def test_ruler_overlap_suppresses_ner_span(self, spark):
        from erkg_tutorials_spark.pipelines.entity_linking import extract_mentions

        docs = spark.createDataFrame(
            [Row(doc_id=1, text="He visited Acme Corp. headquarters downtown .")]
        )
        entities = spark.createDataFrame(
            [Row(entity_id="E1", name="Acme Corp.", description="a company")]
        )
        aliases = spark.createDataFrame(
            [Row(alias="Acme Corp.", entities=["E1"], probabilities=[1.0])]
        )
        kb = with_self_aliases(aliases, entities)
        mentions = extract_mentions(docs, kb, with_shape_ner=True).collect()
        # the dictionary match wins; the NER tier must not duplicate it
        acme = [r for r in mentions if "acme" in r.text.lower()]
        assert len(acme) == 1
        assert acme[0].ent_id == "E1"
