"""The reference's "table-extraction" example shape (BASELINE.json:6):
HTML tables → records accumulated on the context (append-to-context
pattern), with the tag-soup parser handling unclosed <tr>/<td>.

Run:  python examples/table_extraction.py
      python examples/table_extraction.py --spark
"""

from __future__ import annotations

import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from inxs_spark.compat import Ref, Rule, Transformation, lib, parse_html

PAGE = """
<html><body>
  <nav>home | products</nav>
  <table>
    <tr><th>part<th>qty<th>price
    <tr><td>bolt<td>7<td>0.10
    <tr><td>nut<td>3<td>0.05
  </table>
  <footer>inventory as of 2026</footer>
</body></html>
"""


def row_cells(element):
    return tuple(c.full_text() for c in element.children)


def table_transformation() -> Transformation:
    return Transformation(
        Rule("tr", (row_cells, lib.append("rows"))),
        lib.sorter("rows"),
        name="table-extraction",
        result_object="context.rows",
    )


def main() -> None:
    if "--spark" in sys.argv:
        # at scale: the same per-document kernel inside mapInArrow,
        # exploding each table row to an output record
        from typing import Iterator

        import pyarrow as pa

        from inxs_spark.sources.io import row_batcher
        from inxs_spark.sources.session import get_spark

        t = table_transformation()
        schema = "doc_id long, cells array<string>"

        def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in it:
                out = []
                for doc_id, payload in zip(batch.column("doc_id").to_pylist(),
                                           batch.column("text").to_pylist()):
                    for row in t(parse_html(payload)):
                        out.append((doc_id, list(row)))
                yield to_batch(out)

        spark = get_spark(master="local[2]")
        to_batch = row_batcher(schema)  # Arrow schema resolved on the driver
        df = spark.createDataFrame([(1, PAGE)], "doc_id long, text string")
        df.mapInArrow(batches, schema).show(truncate=False)
        spark.stop()
        return
    rows = table_transformation()(parse_html(PAGE))
    for row in rows:
        print(row)


if __name__ == "__main__":
    main()
