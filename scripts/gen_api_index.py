#!/usr/bin/env python
"""Regenerate API.md — the LIBRARY view of the engine (r16 verdict task 8):

    python scripts/gen_api_index.py [--check]

One row per PUBLIC function in the non-query modules (operators, sources,
functions, streaming, multimodal, plans, session, schemas), with its
module, signature, and first docstring sentence — the page a user who
wants to CALL the engine (rather than run the registered driver queries)
starts from. QUERIES.md remains the driver-contract view.

``--check`` exits non-zero when the committed API.md differs from the
regeneration (tests/test_api_index.py pins this, same pattern as the
rotation module).
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: public surface, grouped for the doc; order is presentation order.
MODULES: list[tuple[str, str]] = [
    ("cinegraph_spark.operators.dedup", "Deduplication"),
    ("cinegraph_spark.operators.incremental", "Incremental / CDC"),
    ("cinegraph_spark.operators.similarity", "Vector ANN (IVF / PQ / LSH)"),
    ("cinegraph_spark.operators.hnsw", "Vector ANN (HNSW analog)"),
    ("cinegraph_spark.functions.vector", "Vector expressions"),
    ("cinegraph_spark.operators.graph_algos", "Graph algorithms"),
    ("cinegraph_spark.operators.graph_build", "Tree / graph building"),
    ("cinegraph_spark.operators.clustering", "Clustering / hierarchy"),
    ("cinegraph_spark.operators.features", "Feature engineering"),
    ("cinegraph_spark.operators.windowize", "Tokenize / windowize"),
    ("cinegraph_spark.operators.scoring", "Model scoring"),
    ("cinegraph_spark.functions.text_clean", "Text cleaning (F1-F11)"),
    ("cinegraph_spark.operators.asof", "As-of joins"),
    ("cinegraph_spark.operators.skew", "Skew handling"),
    ("cinegraph_spark.operators.maintenance", "Table maintenance / layouts"),
    ("cinegraph_spark.operators.serving_io", "Serving state / generations"),
    ("cinegraph_spark.sources.text_corpus", "Text-corpus sources"),
    ("cinegraph_spark.sources.textsink", "Text-file sink (DSv2)"),
    ("cinegraph_spark.sources.listing", "Paginated listing source (DSv2)"),
    ("cinegraph_spark.streaming.windows", "Streaming windows"),
    ("cinegraph_spark.streaming.stateful", "Streaming stateful ops"),
    ("cinegraph_spark.multimodal.binary_ops", "Multimodal binary columns"),
    ("cinegraph_spark.plans.inspect", "Plan inspection"),
    ("cinegraph_spark.session", "Session helpers"),
]


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return "(undocumented)"
    text = " ".join(doc.strip().split())
    for stop in (". ", " — the", " — "):
        i = text.find(stop)
        if 0 < i < 160:
            return text[: i + (1 if stop == ". " else 0)]
    return text[:157] + "..." if len(text) > 160 else text


def _sig(fn) -> str:
    try:
        s = str(inspect.signature(fn))
    except (TypeError, ValueError):
        return "(...)"
    return s if len(s) <= 90 else s[:87] + "...)"


def render() -> str:
    lines = [
        "# API — the library surface",
        "",
        "Generated by `python scripts/gen_api_index.py` — regenerate after",
        "adding or renaming public functions (`tests/test_api_index.py`",
        "pins freshness). This is the page for USING the engine as a",
        "library; QUERIES.md is the driver-contract view of the same",
        "capabilities, and every function below is exercised by at least",
        "one registered query or test.",
        "",
    ]
    n_fns = 0
    for modname, title in MODULES:
        mod = importlib.import_module(modname)
        fns = []
        for name in sorted(dir(mod)):
            if name.startswith("_"):
                continue
            obj = getattr(mod, name)
            if not (inspect.isfunction(obj) or inspect.isclass(obj)):
                continue
            if getattr(obj, "__module__", None) != modname:
                continue  # re-exports list under their home module
            fns.append((name, obj))
        if not fns:
            continue
        lines.append(f"## {title} — `{modname}`")
        lines.append("")
        for name, obj in fns:
            kind = "class" if inspect.isclass(obj) else "def"
            sig = "" if inspect.isclass(obj) else _sig(obj)
            lines.append(f"- **`{name}{sig}`** ({kind}) — "
                         f"{_first_sentence(inspect.getdoc(obj))}")
            n_fns += 1
        lines.append("")
    lines.insert(
        8, f"**{n_fns} public functions/classes across {len(MODULES)} modules.**"
    )
    lines.insert(9, "")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(REPO, "API.md")
    text = render()
    if "--check" in sys.argv:
        committed = open(out).read() if os.path.exists(out) else ""
        if committed != text:
            sys.exit("API.md is stale — rerun scripts/gen_api_index.py")
        print("API.md is fresh")
        return
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
