"""The configured job every workload runs: a small event filter and a
three-rule transform chain, as a deployed replication job would carry.
``oracle.py`` restates the same rules in SQL, independently of these
Spark builders."""

from __future__ import annotations

from replicator_spark.model import KEY_COLS

ENGINE_COLS = ("event_id", "seq", "op", *KEY_COLS)


def event_filter():
    """Keep the ``repos`` collection; drop events whose doc says
    ``lang == "java"`` (events without ``lang`` — deletes, partials that
    do not set it — are kept)."""
    from replicator_spark.filters import EventFilter, FieldFilter

    return EventFilter(
        include_collections=["repos"],
        field_filters=[FieldFilter("lang", "eq", "java", include=False)],
    )


def transform_engine(partial_updates: bool):
    """rs → rust; go content upper-cased; js with content → ``js-web``."""
    from pyspark.sql import functions as F

    from replicator_spark.transform import Action, Condition, Rule, TransformEngine

    protected = ENGINE_COLS + (("_partial",) if partial_updates else ())
    rules = [
        Rule(
            "rs-to-rust",
            priority=10,
            conditions=[Condition("lang", "eq", "rs")],
            actions=[Action("set", {"lang": "rust"})],
        ),
        Rule(
            "go-upper",
            priority=20,
            conditions=[Condition("lang", "eq", "go")],
            actions=[
                Action("computed", {"field": "content", "expr": F.upper(F.col("content"))})
            ],
        ),
        Rule(
            "js-web",
            priority=30,
            conditions=[Condition("lang", "eq", "js"), Condition("content", "exists")],
            actions=[Action("concat", {"target": "lang", "sources": ["$.lang", "-web"]})],
        ),
    ]
    return TransformEngine(rules, protected=protected)
