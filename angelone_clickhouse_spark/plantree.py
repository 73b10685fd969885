"""Structural parser for Spark physical-plan tree strings.

``executedPlan().toString()`` renders the operator tree with
indentation markers (``+-`` / ``:-``); tests that need to assert a
RELATIONSHIP between operators — "this FileScan has no Exchange
ancestor", "the one Exchange hangs off the probe side's Generate" —
previously used substring-order checks, which pass whenever the
tokens merely co-occur (ADVICE r11: the check would not catch the
Exchange migrating to the index side while a Generate exists
elsewhere). This module parses the indentation into parent/child
structure so plan-shape tests assert the actual tree.
"""

from __future__ import annotations

import re

_MARKER = re.compile(r"(\+-|:-)\s")


def parse_plan_nodes(plan_str: str) -> list[tuple[int, str]]:
    """(depth, node_text) per operator line, in pre-order. The root
    line has depth -1; every other node's depth is the column of its
    ``+-``/``:-`` marker, which Spark emits strictly deeper for
    children and equal for siblings."""
    nodes: list[tuple[int, str]] = []
    for line in plan_str.splitlines():
        m = _MARKER.search(line)
        if m:
            nodes.append((m.start(), line[m.end() :].strip()))
        elif line.strip() and not nodes:
            nodes.append((-1, line.strip()))
    return nodes


def nodes_with_ancestors(plan_str: str) -> list[tuple[str, list[str]]]:
    """(node_text, [ancestor texts root-first]) for every node."""
    out: list[tuple[str, list[str]]] = []
    stack: list[tuple[int, str]] = []
    for depth, text in parse_plan_nodes(plan_str):
        while stack and stack[-1][0] >= depth:
            stack.pop()
        out.append((text, [t for _, t in stack]))
        stack.append((depth, text))
    return out


def scan_ancestors(plan_str: str, path_fragment: str) -> list[list[str]]:
    """Ancestor chains of every FileScan whose text mentions
    ``path_fragment`` (a directory / table-location fragment)."""
    return [
        anc
        for text, anc in nodes_with_ancestors(plan_str)
        if ("FileScan" in text or "Scan parquet" in text)
        and path_fragment in text
    ]
