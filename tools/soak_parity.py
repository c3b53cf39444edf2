"""Long parity soak: engine vs transcription oracle over many docs.

The pytest suite sweeps 40 docs + Hypothesis properties (driver budget
keeps it short); this tool runs the same span-for-span comparison over
thousands of generated documents — including the heavy-tail skew
profile — as an offline confidence pass. Any divergence prints the
structured span diff and exits 1. On success it prints both the
oracle-inclusive docs/s and the engine's own ``extract_document``
ms/doc (timed alone, without decode or the oracle), so one command
checks parity and the engine's speed.

Usage: python tools/soak_parity.py [n_docs] [--skew]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.fixtures.generator import (  # noqa: E402
    doc_page_count,
    doc_spans,
    form_schemas,
    page_perception,
)
from pdf_parser_spark.oracle import reference_oracle as O  # noqa: E402
from pdf_parser_spark.plans.extract import extract_document  # noqa: E402
from pdf_parser_spark.testing.span_diff import span_diff  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    skew = "--skew" in args
    positional = [a for a in args if a != "--skew"]
    if len(positional) > 1 or (positional and not positional[0].isdigit()):
        print(f"usage: {sys.argv[0]} [n_docs] [--skew]", file=sys.stderr)
        return 2
    n = int(positional[0]) if positional else 2000
    schemas = form_schemas()
    t0 = time.time()
    engine_s = 0.0
    pages_total = 0
    for i in range(n):
        doc_id = f"soak_{i:08d}"
        np = doc_page_count(doc_id, skew=skew)
        pages = {p: page_perception(doc_id, p) for p in range(1, np + 1)}
        pages_total += np
        spans = doc_spans(doc_id, skew=skew)
        te = time.perf_counter()
        got = extract_document(spans, pages, schemas)
        engine_s += time.perf_counter() - te
        exp = O.extract_document_spans(spans, pages, schemas)
        if got != exp:
            print(span_diff(got, exp, doc_id))
            return 1
        if (i + 1) % 500 == 0:
            el = time.time() - t0
            print(f"{i + 1}/{n} docs ok ({pages_total} pages, {el:.1f}s)", flush=True)
    el = time.time() - t0
    print(f"PARITY OK: {n} docs / {pages_total} pages, 0 divergences, {el:.1f}s "
          f"({n / el:.0f} docs/s single-threaded incl. oracle; "
          f"engine extract_document {engine_s * 1e3 / max(n, 1):.2f} ms/doc)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
