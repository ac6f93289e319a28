"""Round 12, wave 6: three new oracle-checked operators — McNemar's
paired filter test (Gopher rules vs quality cut), per-source lexical
diversity (Simpson / Shannon / TTR), and NDCG@k ranking quality of the
IVF index against exact-cosine graded relevance."""

from __future__ import annotations

import pytest

import math

from gluettalax_spark.registry import all_queries
from tests.harness import compare, exact_hash_compare


def _cross_check(spark, sf_dir, oracle_con, name):
    spec = all_queries()[name]
    got = spec.builder(spark, sf_dir)
    want = oracle_con.execute(spec.resolve_oracle(sf_dir)).df()
    compare(got, want)
    assert exact_hash_compare(got, want)
    return got.toPandas()


class TestMcnemarFilters:
    @pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
    def test_oracle_match(self, spark, sf_dir, oracle_con):
        _cross_check(spark, sf_dir, oracle_con, "stats_mcnemar_filters")

    def test_contingency_is_a_partition(self, spark, sf_dir):
        row = all_queries()["stats_mcnemar_filters"].builder(spark, sf_dir).collect()[0]
        assert (
            row.both_keep + row.rules_only + row.score_only + row.both_drop
            == row.n_docs
        )
        assert row.n_docs > 0

    def test_rules_side_agrees_with_gopher_battery(self, spark, sf_dir):
        """A-keeps (both_keep + rules_only) must equal the sum of
        text_gopher_quality's pass_all over sources — the two keys share
        one rule definition (text.gopher_rule_cols), so a drift here
        means the refactor broke one of them."""
        mc = all_queries()["stats_mcnemar_filters"].builder(spark, sf_dir).collect()[0]
        gq = all_queries()["text_gopher_quality"].builder(spark, sf_dir).toPandas()
        assert mc.both_keep + mc.rules_only == int(gq["pass_all"].sum())

    def test_chi2_replays_from_the_counts(self, spark, sf_dir):
        row = all_queries()["stats_mcnemar_filters"].builder(spark, sf_dir).collect()[0]
        b, c = row.rules_only, row.score_only
        if b + c == 0:
            assert row.mcnemar_chi2 == 0.0
        else:
            assert row.mcnemar_chi2 == round((abs(b - c) - 1) ** 2 / (b + c), 6)


class TestTokenDiversity:
    def test_oracle_match(self, spark, sf_dir, oracle_con):
        _cross_check(spark, sf_dir, oracle_con, "text_token_diversity")

    def test_metric_bounds(self, spark, sf_dir):
        pdf = all_queries()["text_token_diversity"].builder(spark, sf_dir).toPandas()
        assert len(pdf) > 0
        assert (pdf["n_types"] <= pdf["n_tokens"]).all()
        assert (pdf["ttr_ppm"] <= 1_000_000).all()
        assert ((pdf["simpson"] >= 0.0) & (pdf["simpson"] <= 1.0)).all()
        # Natural-text entropy: strictly positive, and below ln(V)
        # (uniform over the type dictionary is the per-source maximum).
        assert (pdf["shannon_e9"] > 0).all()
        ln_v_e9 = (pdf["n_types"].map(lambda v: math.log(v)) * 1e9).astype("int64")
        assert (pdf["shannon_e9"] <= ln_v_e9).all()

    def test_simpson_numerator_exactness(self, spark, sf_dir, oracle_con):
        """simpson_num must equal Σ n(n-1) computed independently."""
        want = oracle_con.execute(
            """
            SELECT source, CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS s
            FROM (
              SELECT d.source, count(*) AS n
              FROM documents d, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS w(w)
              GROUP BY d.source, w.w
            ) GROUP BY source ORDER BY source
            """
        ).df()
        got = (
            all_queries()["text_token_diversity"]
            .builder(spark, sf_dir)
            .toPandas()
            .sort_values("source")
        )
        assert list(got["simpson_num"]) == list(want["s"])


class TestNdcgEval:
    def test_oracle_match(self, spark, sf_dir, oracle_con):
        _cross_check(spark, sf_dir, oracle_con, "similarity_ndcg_eval")

    def test_ndcg_bounds_and_grid(self, spark, sf_dir):
        from gluettalax_spark.operators.ann import _ndcg_idcg_e9
        from gluettalax_spark.operators.similarity import N_QUERIES

        pdf = all_queries()["similarity_ndcg_eval"].builder(spark, sf_dir).toPandas()
        assert 0 < len(pdf) <= N_QUERIES
        assert (pdf["idcg_e9"] == _ndcg_idcg_e9()).all()
        assert ((pdf["dcg_e9"] >= 0) & (pdf["dcg_e9"] <= pdf["idcg_e9"])).all()
        assert ((pdf["ndcg"] >= 0.0) & (pdf["ndcg"] <= 1.0)).all()

    @pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
    def test_perfect_ranking_scores_one(self, spark, sf_dir):
        """Queries where the IVF top-k IS the exact top-k in exact order
        must land exactly on ndcg == 1.0 (dcg_e9 == idcg_e9 on the same
        integer grid — the quantization cannot leak across queries)."""
        from gluettalax_spark.operators.ann import similarity_topk_ivf
        from gluettalax_spark.operators.similarity import similarity_topk

        ivf = (
            similarity_topk_ivf(spark, sf_dir)
            .select("query_id", "neighbor_id", "rank")
            .toPandas()
        )
        exact = similarity_topk(spark, sf_dir).toPandas()
        ndcg = (
            all_queries()["similarity_ndcg_eval"].builder(spark, sf_dir).toPandas()
        ).set_index("query_id")
        ex = exact.set_index(["query_id", "rank"])["neighbor_id"]
        iv = ivf.set_index(["query_id", "rank"])["neighbor_id"]
        perfect = [
            q
            for q in ndcg.index
            if all(
                (q, r) in iv.index and (q, r) in ex.index and iv[(q, r)] == ex[(q, r)]
                for r in range(1, 6)
            )
        ]
        assert perfect, "fixture should contain at least one perfectly-ranked query"
        for q in perfect:
            assert ndcg.loc[q, "ndcg"] == 1.0
            assert ndcg.loc[q, "dcg_e9"] == ndcg.loc[q, "idcg_e9"]

    def test_gopher_rule_cols_refactor_kept_the_oracle_green(
        self, spark, sf_dir, oracle_con
    ):
        """text_gopher_quality now builds from the shared gopher_rule_cols
        / gopher_feat_rules_sql — re-pin its oracle after the refactor."""
        _cross_check(spark, sf_dir, oracle_con, "text_gopher_quality")


class TestMemoryPolicy:
    def test_generation_rotator_releases_superseded_blocks(self, spark):
        from gluettalax_spark.operators.graph import _GenerationRotator

        jsc = spark.sparkContext._jsc
        base = set(jsc.getPersistentRDDs().keys())
        rot = _GenerationRotator()
        g1 = rot.checkpoint(spark.range(100).toDF("x"))
        rot.retire()  # promotes g1, nothing released yet
        g1_ids = set(jsc.getPersistentRDDs().keys()) - base
        assert g1.count() == 100 and g1_ids
        g2 = rot.checkpoint(spark.range(50).toDF("x"))
        rot.retire()  # g1's blocks are now released
        after = set(jsc.getPersistentRDDs().keys())
        assert not (g1_ids & after), "superseded generation still persisted"
        assert g2.count() == 50  # the live generation survives

    @pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
    def test_cc_serialized_checkpoints_still_converge_on_deep_chain(self, spark):
        """Post-rotator + serialized-level CC: a diameter-8 chain (past
        the fallover budget) and the star variant agree — exercises the
        fallover path with retired generations."""
        from gluettalax_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10, 18)] + [(1, 2), (5, 5)], ["u", "v"]
        )
        a = {(r.node, r.component) for r in connected_components(edges).collect()}
        b = {(r.node, r.component) for r in connected_components_star(edges).collect()}
        assert a == b
        comp_of = dict(a)
        assert comp_of[17] == 10 and comp_of[2] == 1 and comp_of[5] == 5


class TestCochranQ:
    def test_oracle_match(self, spark, sf_dir, oracle_con):
        _cross_check(spark, sf_dir, oracle_con, "stats_cochran_q")

    def test_moments_replay_and_q_formula(self, spark, sf_dir):
        row = all_queries()["stats_cochran_q"].builder(spark, sf_dir).collect()[0]
        k = 6
        cjs = [row.c_wc, row.c_mwl, row.c_sym, row.c_bullet, row.c_alpha, row.c_stop]
        assert row.t_total == sum(cjs)
        assert row.sum_cj_sq == sum(c * c for c in cjs)
        denom = k * row.t_total - row.sum_ri_sq
        if denom == 0:
            assert row.cochran_q == 0.0
        else:
            q = (k - 1) * (k * row.sum_cj_sq - row.t_total**2) / denom
            assert row.cochran_q == round(q, 6)
        # every per-doc pass count is in [0, k], so sum_ri_sq <= k * t_total
        assert 0 <= row.sum_ri_sq <= k * row.t_total

    def test_column_sums_agree_with_gopher_battery(self, spark, sf_dir):
        gq = all_queries()["text_gopher_quality"].builder(spark, sf_dir).toPandas()
        cq = all_queries()["stats_cochran_q"].builder(spark, sf_dir).collect()[0]
        assert cq.c_wc == int(gq["pass_word_count"].sum())
        assert cq.c_stop == int(gq["pass_stopwords"].sum())
