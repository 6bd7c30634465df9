"""Output checks for the benchmark's timed operations that are not query
results (those go through ``eventstream_spark.testing.compare``).

Each check returns a list of problems; an empty list means the output is
correct. The expected values come from duckdb over the same parquet inputs,
never from the engine under test.
"""

from __future__ import annotations

from collections import Counter


def route_problems(got_ids: dict[str, list[str]], want_ids: dict[str, list[str]]) -> list[str]:
    """Route sinks against the fixture: per route, the row count equals the
    count of events the route selects, and every selected event id lands
    exactly once (no duplicate, none missing, none foreign)."""
    problems: list[str] = []
    for route, want in sorted(want_ids.items()):
        got = got_ids.get(route, [])
        if len(got) != len(want):
            problems.append(f"route {route}: {len(got)} rows, expected {len(want)}")
        counts = Counter(got)
        dup = sorted(i for i, c in counts.items() if c > 1)
        missing = sorted(set(want) - counts.keys())
        foreign = sorted(counts.keys() - set(want))
        if dup:
            problems.append(f"route {route}: {len(dup)} ids written twice, e.g. {dup[0]}")
        if missing:
            problems.append(f"route {route}: {len(missing)} ids missing, e.g. {missing[0]}")
        if foreign:
            problems.append(f"route {route}: {len(foreign)} ids not routed here, e.g. {foreign[0]}")
    for route in sorted(got_ids.keys() - want_ids.keys()):
        problems.append(f"unexpected route sink {route}")
    return problems


def wire_problems(published: int, read_rows: int) -> list[str]:
    """Wire ingest: every entry published to the broker is read back once,
    so no backlog is left past the committed offset."""
    backlog = published - read_rows
    if backlog:
        return [f"wire read {read_rows} of {published} published entries (backlog_end {backlog})"]
    return []
