"""Workload definitions: corpus, size, query mix and the op cycle.

Every workload runs the same closed loop with one client: full ingests,
messages-only ingests, full decodes and the query mix, in whole rounds.
Workloads differ in what the corpus makes the program do.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import corpus


@dataclass(frozen=True)
class Query:
    kind: str
    text: str
    kw: dict = field(default_factory=dict)
    # inclusive ts window as shares of the corpus time range
    ts_window: tuple[float, float] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    generate: object
    queries: object  # (pyarrow table) -> list[Query]
    # passes over the query mix per round
    query_passes: int = 1
    # var-dict entries above which decode and search switch to the
    # distributed dictionary paths; None keeps the program's own limit
    dict_broadcast_limit: int | None = None


def _template_queries(table) -> list[Query]:
    return [
        Query("dict_var", "value=abc17 mode"),
        Query("encoded_var", "used 123 of"),
        Query("hot_wildcard", "used * GB in"),
        Query("wontmatch", "nosuchtokenzz"),
        Query("ts_range", "Task * started", ts_window=(0.4, 0.6)),
        Query("ignore_case", "HASH DEADbeef7 commit", {"ignore_case": True}),
        Query("prune_vars", "started by user42 from", {"prune_vars": True}),
    ]


def _pick(table, role: int, pattern: str) -> str:
    """`pattern` as found in the middle turn of the given role (i % 4)."""
    texts = table.column("text")
    i = (len(texts) // 2) // 4 * 4 + role
    return re.search(pattern, texts[i].as_py()).group(0)


def _agent_queries(table) -> list[Query]:
    # the kinds whose path changes once the var dictionary is too big to
    # collect: distributed contains (WontMatch) and id lookups (prune_vars),
    # and the join decode of few and of many rows; the other kinds run on
    # `template`, and each agent search costs about 2 s
    return [
        Query("dict_var", f"the run id is {_pick(table, 0, r'run-[0-9a-f]+')}"),
        Query("hot_wildcard", "Reading module_* now"),
        Query("wontmatch", "nosuchtokenzz"),
        Query("prune_vars", f"session {_pick(table, 2, r'sess-[0-9a-f]+')}", {"prune_vars": True}),
    ]


WORKLOADS = {
    "template": Workload("template", 100_000, corpus.template_corpus, _template_queries),
    # two passes: the median of one pass of four queries spread 21% between
    # runs, and one pass of this mix costs 9 s
    "agent": Workload(
        "agent", 25_000, corpus.agent_corpus, _agent_queries,
        query_passes=2, dict_broadcast_limit=20_000,
    ),
}
