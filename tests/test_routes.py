"""Route-compiler tests: config validation (aggregated errors, $ENV
substitution, transform signature enforcement) and end-to-end batch +
streaming execution with the single-scan multi-sink fan-out."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql.functions import col

from eventstream_spark.catalog import load, table_path
from eventstream_spark.plans import ConfigurationError, EngineConfig, compile_bus, run_batch, start_streaming


def _config_dict(tmp_path) -> dict:
    return {
        "application_name": "test-app",
        "application_instance": "$TEST_INSTANCE_ID",
        "busses": [
            {
                "name": "events_bus",
                "source_table": "events",
                "routes": [
                    {
                        "name": "clicks",
                        "event": "click",
                        "transform": {
                            "module_name": "eventstream_spark.plans.transforms",
                            "name": "respond",
                        },
                        "kwargs": {"application_name": "resp-app"},
                        "sink": {"kind": "parquet", "target": str(tmp_path / "clicks_out")},
                    },
                    {
                        "name": "problems",
                        "event": "error",
                        "aliases": ["signup"],
                        "sink": {"kind": "noop"},
                    },
                ],
            }
        ],
    }


def test_env_substitution_and_compile(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("TEST_INSTANCE_ID", "inst-42")
    cfg = EngineConfig.from_dict(_config_dict(tmp_path))
    assert cfg.application_instance == "inst-42"
    routes = compile_bus(spark, cfg, cfg.busses[0], sf_dir)
    assert set(routes) == {"clicks", "problems"}


def test_validation_aggregates_all_errors(tmp_path, monkeypatch):
    monkeypatch.delenv("MISSING_VAR", raising=False)
    raw = _config_dict(tmp_path)
    raw["application_instance"] = "$MISSING_VAR"
    raw["busses"][0]["routes"][0]["transform"] = {
        "module_name": "eventstream_spark.plans.transforms",
        "name": "does_not_exist",
    }
    raw["busses"][0]["routes"][1]["sink"] = {"kind": "kafka_nope"}
    raw["busses"].append({"name": "empty"})  # no source
    with pytest.raises(ConfigurationError) as exc:
        EngineConfig.from_dict(raw)
    msgs = "\n".join(exc.value.errors)
    assert "MISSING_VAR" in msgs
    assert "does_not_exist" in msgs
    assert "kafka_nope" in msgs
    assert "source_table/source_path" in msgs
    assert len(exc.value.errors) == 4


def test_transform_signature_enforced(tmp_path, monkeypatch):
    monkeypatch.setenv("TEST_INSTANCE_ID", "i")
    raw = _config_dict(tmp_path)
    # not callable at all
    raw["busses"][0]["routes"][0]["transform"] = {"module_name": "os", "name": "sep"}
    with pytest.raises(ConfigurationError) as exc:
        EngineConfig.from_dict(raw)
    assert "not callable" in str(exc.value)

    # first parameter annotated as a non-DataFrame (str) must be rejected
    raw2 = _config_dict(tmp_path)
    raw2["busses"][0]["routes"][0]["transform"] = {
        "module_name": "eventstream_spark.testing",
        "name": "run_oracle",
    }
    with pytest.raises(ConfigurationError) as exc2:
        EngineConfig.from_dict(raw2)
    assert "must be a DataFrame" in str(exc2.value)


def test_secret_fields_never_leak(tmp_path, monkeypatch):
    """Secret-typed connection fields (reference SecretStr): $ENV-sourced,
    readable only via get_secret_value(), masked everywhere else —
    including the aggregated validation-error text."""
    from eventstream_spark.plans import Secret

    monkeypatch.setenv("TEST_INSTANCE_ID", "inst-1")
    monkeypatch.setenv("TEST_REDIS_PW", "hunter2-s3cret")
    raw = _config_dict(tmp_path)
    raw["busses"][0]["connection"] = {
        "host": "redis.internal",
        "port": 6380,
        "password": "$TEST_REDIS_PW",
        "ssl_key_password": "inline-key-pw",
    }
    cfg = EngineConfig.from_dict(raw)
    conn = cfg.busses[0].connection
    assert conn.host == "redis.internal" and conn.port == 6380
    assert conn.password.get_secret_value() == "hunter2-s3cret"
    assert conn.ssl_key_password.get_secret_value() == "inline-key-pw"
    # Masked in every rendering path: repr/str of the secret, of the
    # connection dataclass, and of the whole config tree.
    for rendered in (repr(conn.password), str(conn.password), repr(conn), repr(cfg)):
        assert "hunter2-s3cret" not in rendered
        assert "inline-key-pw" not in rendered
    assert str(conn.password) == "**********"
    assert Secret("a") == Secret("a") and Secret("a") != Secret("b")

    # Validation errors on the same config must not echo secret values.
    bad = _config_dict(tmp_path)
    bad["busses"][0]["connection"] = {
        "password": "inline-pw-oops",
        "port": "not-a-number",
        "bogus_field": "x",
    }
    import pytest as _pytest

    with _pytest.raises(ConfigurationError) as exc:
        EngineConfig.from_dict(bad)
    text = str(exc.value)
    assert "port: not an integer" in text and "bogus_field" in text
    assert "inline-pw-oops" not in text and "not-a-number" not in text


def test_batch_run_and_response_semantics(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("TEST_INSTANCE_ID", "inst-1")
    cfg = EngineConfig.from_dict(_config_dict(tmp_path))
    counts = run_batch(spark, cfg, sf_dir)

    ev = load(spark, sf_dir, "events")
    n_clicks = ev.where(col("event_type") == "click").count()
    n_problems = ev.where(col("event_type").isin("error", "signup")).count()
    assert counts["events_bus.clicks"] == n_clicks
    assert counts["events_bus.problems"] == n_problems

    # response derivation reached the sink (A7/A8)
    out = spark.read.parquet(str(tmp_path / "clicks_out"))
    assert out.count() == n_clicks
    row = out.first()
    assert row.event == "click_response"
    assert row.response_to is not None
    assert row.application_name == "resp-app"


def test_batch_counts_ride_sink_action(spark, sf_dir, tmp_path, monkeypatch):
    """For noop/parquet sinks the row count comes from observe() riding the
    sink write — run_batch must not issue a second count() action."""
    from pyspark.sql import DataFrame

    monkeypatch.setenv("TEST_INSTANCE_ID", "inst-1")
    cfg = EngineConfig.from_dict(_config_dict(tmp_path))

    count_calls = []
    orig_count = DataFrame.count

    def spying_count(self):
        count_calls.append(self)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", spying_count)
    counts = run_batch(spark, cfg, sf_dir)
    monkeypatch.setattr(DataFrame, "count", orig_count)

    assert not count_calls, "run_batch issued a count() action for a noop/parquet route"
    ev = load(spark, sf_dir, "events")
    assert counts["events_bus.clicks"] == ev.where(col("event_type") == "click").count()
    assert counts["events_bus.problems"] == ev.where(
        col("event_type").isin("error", "signup")
    ).count()


def test_streaming_fanout_equals_batch(spark, sf_dir, tmp_path, monkeypatch):
    """Streaming≡batch (SURVEY §5.2 item 2): same routes replayed through a
    file stream with AvailableNow produce the same rows as the batch run."""
    monkeypatch.setenv("TEST_INSTANCE_ID", "inst-1")
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    shutil.copy(table_path(sf_dir, "events"), src_dir / "part-0.parquet")

    raw = _config_dict(tmp_path)
    raw["busses"][0]["routes"][0]["sink"]["target"] = str(tmp_path / "stream_clicks")
    raw["busses"][0]["source_path"] = str(src_dir)
    raw["busses"][0].pop("source_table")
    cfg = EngineConfig.from_dict(raw)

    schema = spark.read.parquet(str(src_dir)).schema
    q = start_streaming(
        spark, cfg, cfg.busses[0], str(src_dir), schema, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "stream_clicks"))
    want = load(spark, sf_dir, "events").where(col("event_type") == "click")
    assert got.count() == want.count()
    assert {r.event for r in got.select("event").distinct().collect()} == {"click_response"}
    # replays are idempotent per checkpoint: restarting with same checkpoint
    # adds nothing
    q2 = start_streaming(
        spark, cfg, cfg.busses[0], str(src_dir), schema, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "stream_clicks")).count() == want.count()


def test_stock_transforms_add_their_columns(spark, sf_dir):
    """The stock handlers in plans/transforms.py, each run as a route
    transform: forward stamps the target stream (A9), identity passes the
    routed rows through, extract_prop types one props path, tag_workflow
    fills the workflow id."""
    import json

    from eventstream_spark.plans.config import BusConfig, RouteConfig, TransformRef

    def route(name, transform=None, **kwargs):
        ref = TransformRef("eventstream_spark.plans.transforms", transform) if transform else None
        return RouteConfig(name=name, event="purchase", transform=ref, kwargs=kwargs)

    cfg = EngineConfig(
        application_name="t-app",
        application_instance="i-1",
        busses=(
            BusConfig(
                name="ev",
                source_table="events",
                routes=(
                    route("plain"),
                    route("forward", "forward", target_stream="audit"),
                    route("identity", "identity"),
                    route("extract_prop", "extract_prop", path="k", alias="k_value"),
                    route("tag_workflow", "tag_workflow", workflow_id="wf-7"),
                ),
            ),
        ),
    )
    routes = compile_bus(spark, cfg, cfg.busses[0], sf_dir)
    raw = load(spark, sf_dir, "events").where(col("event_type") == "purchase")
    want_k = {str(r.event_id): json.loads(r.props)["k"] for r in raw.collect()}
    assert want_k

    def rows(name, *cols):
        return {r.message_id: tuple(r)[1:] for r in routes[name].select("message_id", *cols).collect()}

    assert rows("forward", "target_stream") == {m: ("audit",) for m in want_k}
    assert routes["identity"].columns == routes["plain"].columns
    assert rows("identity", "event", "ts", "value") == rows("plain", "event", "ts", "value")
    assert rows("extract_prop", "k_value") == {m: (k,) for m, k in want_k.items()}
    assert rows("tag_workflow", "workflow_id") == {m: ("wf-7",) for m in want_k}


def test_group_naming_broadcast_vs_compete(tmp_path):
    from eventstream_spark.plans.config import checkpoint_dir_for, generate_group_name

    shared = generate_group_name("EVENTS", "app", "clicks")
    assert shared == "EVENTS:app:clicks"
    # Two instances, shared group → SAME checkpoint → they compete.
    assert generate_group_name("EVENTS", "app", "clicks", "i-1") == shared
    # unique → per-instance checkpoints → both process everything.
    u1 = checkpoint_dir_for(str(tmp_path), "EVENTS", "app", "clicks", "i-1", unique=True)
    u2 = checkpoint_dir_for(str(tmp_path), "EVENTS", "app", "clicks", "i-2", unique=True)
    assert u1 != u2 and u1.startswith(str(tmp_path))


def test_per_route_streaming_equals_batch(spark, sf_dir, tmp_path):
    """Independent per-route queries (broadcast semantics): every route sees
    the whole stream, results equal the batch compilation route-for-route."""
    import shutil as _sh

    from eventstream_spark.catalog import table_path
    from eventstream_spark.plans.config import (
        BusConfig,
        EngineConfig,
        RouteConfig,
        SinkConfig,
    )
    from eventstream_spark.plans.routes import compile_bus, start_streaming_per_route
    from eventstream_spark.streaming import QueryManager

    src = tmp_path / "landing"
    src.mkdir()
    _sh.copy(table_path(sf_dir, "events"), src / "p0.parquet")
    raw_schema = spark.read.parquet(str(src)).schema

    cfg = EngineConfig(
        application_name="pr_app",
        application_instance="i-1",
        busses=(
            BusConfig(
                name="ev",
                source_path=str(src),
                routes=(
                    RouteConfig(
                        name="clicks",
                        event="click",
                        sink=SinkConfig("parquet", str(tmp_path / "out_clicks")),
                    ),
                    RouteConfig(
                        name="views",
                        event="view",
                        sink=SinkConfig("parquet", str(tmp_path / "out_views")),
                    ),
                ),
            ),
        ),
    )
    bus = cfg.busses[0]
    mgr = QueryManager(spark)
    queries = start_streaming_per_route(
        spark, cfg, bus, str(src), raw_schema, str(tmp_path / "ckpts"), manager=mgr
    )
    assert set(queries) == {"ev:clicks", "ev:views"}
    mgr.await_all()

    batch = compile_bus(spark, cfg, bus, sf_dir)
    for route, out_dir in (("clicks", "out_clicks"), ("views", "out_views")):
        got = spark.read.parquet(str(tmp_path / f"{out_dir}")).count()
        want = batch[route].count()
        assert got == want > 0
    # Independent checkpoints, named by the A28 unique-group convention.
    assert mgr.info("ev:clicks").query_id != mgr.info("ev:views").query_id
    for name in list(mgr.names()):
        mgr.purge(name, drop_checkpoint=True)


def test_config_json_schema_matches_validator():
    """The exported schema's constraints mirror what from_dict actually
    enforces: required identity fields, route.event, bus source choice,
    sink kinds, and secret-typed connection fields marked writeOnly."""
    from eventstream_spark.plans.config import (
        _SECRET_CONN_FIELDS,
        _SINK_KINDS,
        config_json_schema,
    )

    s = config_json_schema()
    assert s["required"] == ["application_name", "application_instance"]
    assert "event" in s["$defs"]["route"]["required"]
    assert {"required": ["source_table"]} in s["$defs"]["bus"]["anyOf"]
    assert s["$defs"]["sink"]["properties"]["kind"]["enum"] == list(_SINK_KINDS)
    conn = s["$defs"]["connection"]["properties"]
    for name in _SECRET_CONN_FIELDS:
        assert conn[name] == {"type": "string", "writeOnly": True}
    # every declared connection property is a field the parser knows
    from eventstream_spark.plans.config import _PLAIN_CONN_FIELDS

    assert set(conn) == set(_PLAIN_CONN_FIELDS) | set(_SECRET_CONN_FIELDS) | {"port"}
