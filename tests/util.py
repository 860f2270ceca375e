from pyspark.sql import SparkSession
from pyspark.sql import types as T

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def spans_df(spark: SparkSession, rows: list[dict]):
    data = [
        (
            r["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r in rows
    ]
    return spark.createDataFrame(data, SPAN_SCHEMA)


def assert_join_follows_threshold(df, join_threshold: str) -> None:
    """After ``df`` ran: its final (post-AQE) plan broadcasts iff the
    broadcast threshold is on — joins carry no hint that overrides it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastHashJoin" in plan) == (join_threshold == "default"), plan
