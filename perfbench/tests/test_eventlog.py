"""The event-log parser on a small recorded log.

``small_eventlog.json`` is a trimmed Spark 4 event log of three job
groups: ``wl|op_a|1|build`` (a count over 10 rows), ``wl|op_a|1|exec``
(1000 rows through mapInPandas, then a grouped sum: one exchange) and
``wl|op_b|1|exec`` (a filter, no exchange)."""

import os

from perfbench.eventlog import covered_ms, first_in, parse

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "small_eventlog.json")


def test_jobs_stages_tasks_per_group():
    log = parse(LOG)
    assert sorted(log.groups) == ["wl|op_a|1|build", "wl|op_a|1|exec", "wl|op_b|1|exec"]
    build, a, b = (log.groups[g] for g in sorted(log.groups))
    assert (build.jobs, build.stages, build.tasks) == (1, 2, 3)
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 4)
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 2)


def test_input_shuffle_and_exchanges():
    log = parse(LOG)
    a, b = log.groups["wl|op_a|1|exec"], log.groups["wl|op_b|1|exec"]
    assert a.input_rows == 1000 and b.input_rows == 1000
    assert a.exchanges == 1 and b.exchanges == 0
    # 5 groups, partial aggregates from 2 map tasks
    assert a.shuffle_read_records == 10
    assert a.shuffle_write_bytes > 0 and b.shuffle_write_bytes == 0


def test_arrow_boundary_only_on_python_nodes():
    log = parse(LOG)
    a = log.groups["wl|op_a|1|exec"]
    assert a.arrow_rows_received == 1000
    assert a.arrow_bytes_sent > 0 and a.arrow_bytes_received > 0
    for g in ("wl|op_a|1|build", "wl|op_b|1|exec"):
        c = log.groups[g]
        assert (c.arrow_rows_received, c.arrow_bytes_sent, c.arrow_bytes_received) == (0, 0, 0)


def test_total_sums_matching_groups():
    log = parse(LOG)
    t = log.total(lambda g: g.endswith("|exec"))
    assert (t.jobs, t.tasks, t.input_rows) == (2, 6, 2000)
    assert len(t.job_spans_ms) == 2
    exec_groups = [g for g in log.groups if g.endswith("|exec")]
    assert t.task_run_ms == sum(log.groups[g].task_run_ms for g in exec_groups)


def test_sql_execution_starts_precede_their_jobs():
    log = parse(LOG)
    assert len(log.sql_starts_ms) == 3 and log.sql_starts_ms == sorted(log.sql_starts_ms)
    submits = sorted(a for c in log.groups.values() for a, _ in c.job_spans_ms)
    # each execution is posted after its plan is made and before its job
    for start, submit in zip(log.sql_starts_ms, submits):
        assert start <= submit
    assert submits[0] < log.sql_starts_ms[1] and submits[1] < log.sql_starts_ms[2]


def test_first_in_picks_the_earliest_time_in_the_window():
    times = [10, 20, 30]
    assert first_in(times, 0, 100) == 10
    assert first_in(times, 11, 100) == 20
    assert first_in(times, 20, 20) == 20
    assert first_in(times, 21, 29) is None
    assert first_in(times, 31, 100) is None


def test_covered_ms_counts_overlap_once_and_clips():
    spans = [(0, 10), (5, 15), (30, 40), (100, 120)]
    assert covered_ms(spans, 0, 50) == 25
    assert covered_ms(spans, 8, 35) == 12  # 8..15 and 30..35
    assert covered_ms(spans, 50, 90) == 0  # no job inside the window
    assert covered_ms([(None, 5)], 0, 10) == 0
