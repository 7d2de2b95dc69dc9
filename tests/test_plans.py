"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in the plan, not assumed (SURVEY.md §4)."""

import pytest


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


class TestPushdown:
    def test_filter_and_column_pruning_reach_scan(self, spark):
        from geospatial_object_matching_spark.plans.entry_queries import (
            q_filter_project,
        )

        plan = plan_of(q_filter_project(spark, SF))
        assert "PushedFilters: [" in plan
        assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
        # projection pruning: html-sized columns never read
        assert "l_comment" not in plan
        read = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_extendedprice" in read and "l_tax" not in read

    def test_pages_scan_prunes_to_url_text(self, spark, tmp_path):
        from geospatial_object_matching_spark.operators.extract import (
            extract_objects,
        )
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_df,
        )

        path = str(tmp_path / "pages")
        generate_pages_df(spark, 5, seed=1).write.parquet(path)
        plan = plan_of(extract_objects(spark.read.parquet(path)))
        read = plan.split("ReadSchema:")[1].splitlines()[0]
        # html (the fat binary column) must not be read for extraction
        assert "html" not in read
        assert "url" in read and "text" in read


class TestJoinStrategies:
    def test_small_dim_join_broadcasts(self, spark):
        c = spark.read.parquet(f"{SF}/customer.parquet")
        n = spark.read.parquet(f"{SF}/nation.parquet")
        plan = plan_of(c.join(n, c.c_nationkey == n.n_nationkey))
        assert "BroadcastHashJoin" in plan

    def test_semi_join_planned(self, spark):
        from geospatial_object_matching_spark.plans.entry_queries import q_semi_join

        plan = plan_of(q_semi_join(spark, SF))
        assert "LeftSemi" in plan

    def test_pair_features_uses_hash_joins_no_udf(self, spark):
        from geospatial_object_matching_spark.operators.matching import (
            pair_features,
        )
        from geospatial_object_matching_spark.operators.extract import (
            extract_objects,
        )
        from geospatial_object_matching_spark.operators.properties import (
            compute_properties,
        )
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_df,
        )

        props = compute_properties(
            extract_objects(generate_pages_df(spark, 10, seed=1))
        )
        pairs = spark.createDataFrame(
            [("a", "a")], "cand_id string, index_id string"
        )
        plan = plan_of(pair_features(pairs, props))
        # ratio arithmetic must be JVM expressions, not a python UDF stage
        assert "HashJoin" in plan or "SortMergeJoin" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan.split("FlatMapGroupsInPandas")[0].split(
            "MapInPandas"
        )[-1]


class TestAggregation:
    def test_partial_final_agg(self, spark):
        from geospatial_object_matching_spark.plans.entry_queries import q_group_agg

        plan = plan_of(q_group_agg(spark, SF))
        # Catalyst plans map-side partial aggregation automatically
        assert plan.count("HashAggregate") >= 2

    def test_whole_stage_codegen_covers_agg(self, spark):
        from geospatial_object_matching_spark.plans.entry_queries import q_group_agg

        df = q_group_agg(spark, SF)
        # ExplainMode codegen renders the generated WholeStageCodegen
        # subtrees (the AdaptiveSparkPlan string form does not)
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
        )
        assert "WholeStageCodegen" in s

