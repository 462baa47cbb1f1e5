"""XML serialization sinks (SURVEY.md §2.1 S7/S10, §2.7 F3/F13/F14).

The reference renders one Jinja2-templated XML element per row and
hand-writes header/footer around them into a single timestamped file
(edw_to_pure/person.py:33-47, templates/person.xml.j2), then rotates
old sync files keeping the newest N with a ``latest_X.xml`` symlink
(sync_file_rotator.py:32-54).

Two render paths:

- **Native columns** (the hot path): escaping + element assembly with
  built-in string expressions — stays inside whole-stage codegen, no
  Python in the loop.  Use this for anything fact-sized.
- **Jinja2 UDF** (the fidelity path, F14): evaluates a real template
  per row for byte-parity with reference templates.  Python-priced;
  acceptable for dim-sized sync sets, which is all the reference emits.

The single-file sink streams partitions in order through
``toLocalIterator`` — the driver holds one partition at a time, never
the whole dataset, so "one ordered file" survives inputs much larger
than driver memory.  (At true 100 TB you'd write per-range files and
concatenate at the storage layer; the iterator contract is the same.)
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def xml_escape(col: Column) -> Column:
    """Escape text content: & first, then < and > (commons.xsd text
    fields; jinja2 autoescape in the reference, edw_to_pure/person.py:7-15)."""
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    return F.regexp_replace(out, ">", "&gt;")


def xml_element(tag: str, content: Column, escape: bool = True) -> Column:
    """``<tag>content</tag>``; NULL content → empty element."""
    body = xml_escape(content) if escape else content
    return F.concat(
        F.lit(f"<{tag}>"), F.coalesce(body, F.lit("")), F.lit(f"</{tag}>")
    )


def render_jinja_udf(template_source: str):
    """F14: per-row Jinja2 render as a UDF (templates/person.xml.j2).

    The template is compiled once per executor (lazy closure state), not
    per row.  Returns a string-typed UDF taking a struct column.
    """
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    state: dict = {}

    def _render(row):
        if "tmpl" not in state:
            import jinja2

            state["tmpl"] = jinja2.Environment(autoescape=True).from_string(
                template_source
            )
        return state["tmpl"].render(**row.asDict())

    return udf(_render, StringType())


def write_single_xml(
    df: DataFrame,
    path: str,
    xml_col: str,
    order_by: Sequence[str],
    header: str,
    footer: str,
    batch_partitions: int | None = None,
) -> int:
    """S7: ordered single-file XML sink (edw_to_pure/person.py:33-47).

    Sorts globally, then streams partition-by-partition through
    ``toLocalIterator`` so element order is the sort order and driver
    memory stays bounded by one partition.  Returns the element count.
    NULL ``xml_col`` rows render as an empty line (same contract as the
    distributed twin, so the two writers stay byte-equal).

    The global sort samples its input in one job and shuffles it in
    another, and each job would otherwise recompute ``df`` (for a
    rendered person set: the window chain and the XML render).  The
    projected rows are persisted first, so ``df`` is computed once; the
    cache is released before returning.
    """
    lines = df.select(
        *order_by, F.coalesce(F.col(xml_col), F.lit("")).alias("_line")
    ).persist()
    try:
        ordered = lines.orderBy(*order_by).select("_line")
        if batch_partitions:
            ordered = ordered.coalesce(batch_partitions)
        n = 0
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(header)
            if not header.endswith("\n"):
                fh.write("\n")
            for row in ordered.toLocalIterator(prefetchPartitions=True):
                fh.write(row[0])
                fh.write("\n")
                n += 1
            fh.write(footer)
            if not footer.endswith("\n"):
                fh.write("\n")
    finally:
        lines.unpersist()
    return n


def write_single_xml_distributed(
    df: DataFrame,
    path: str,
    xml_col: str,
    order_by: Sequence[str],
    header: str,
    footer: str,
    n_parts: int | None = None,
) -> int:
    """S7 at scale: the same ordered-single-file contract as
    :func:`write_single_xml` (byte-equal output, pytest-pinned), with
    render/sort/encode fully DISTRIBUTED and the driver doing only a
    file-level byte concatenation — no row ever crosses the driver.

    Shape: range-partition on the order keys (sampled partitioner →
    balanced ranges), sort within partitions, write per-range text
    parts in parallel, then stitch the parts in range order (part file
    numbering IS the range order).  On an object store the stitch
    becomes a storage-layer compose (S3 multipart copy-parts / GCS
    compose) — zero driver bytes; this local implementation streams
    fixed-size chunks, so driver memory is O(chunk).  The element count
    is the ROW count of the sorted dataset (counted once off the
    persisted shuffle output, not from copied newlines — rendered XML
    may embed newlines, e.g. the multi-line person template).  The
    order keys must
    form a total order (unique tie-break) for byte-equality with the
    serial writer — the usual distributed-sort caveat.

    The reference's own writer is serial by construction
    (edw_to_pure/person.py:33-47 renders rows into one open file);
    :func:`write_single_xml` matches that semantics-first, this
    variant is the 100 TB story for the same sink."""
    import glob
    import shutil

    spark = df.sparkSession
    if n_parts is None:
        try:
            n_parts = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except ValueError:  # e.g. the literal "auto" under Databricks AQE
            n_parts = df.rdd.getNumPartitions() or 32
    cols = [F.col(c) for c in order_by]
    ordered = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .select(F.coalesce(F.col(xml_col), F.lit("")).alias("value"))
        .persist()
    )
    try:
        n = ordered.count()
        staging = path + ".parts"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        ordered.write.mode("overwrite").text(staging)
        with open(path, "wb") as out:
            out.write(header.encode("utf-8"))
            if not header.endswith("\n"):
                out.write(b"\n")
            for part in sorted(glob.glob(os.path.join(staging, "part-*"))):
                with open(part, "rb") as src:
                    while True:
                        chunk = src.read(1 << 20)
                        if not chunk:
                            break
                        out.write(chunk)
            out.write(footer.encode("utf-8"))
            if not footer.endswith("\n"):
                out.write(b"\n")
        shutil.rmtree(staging)
    finally:
        ordered.unpersist()
    return n


def rotate_sync_files(
    directory: str, prefix: str, suffix: str = ".xml", keep: int = 5
) -> list[str]:
    """S10: keep the newest ``keep`` sync files for a prefix, delete the
    rest, repoint ``latest_{prefix}{suffix}`` at the newest
    (sync_file_rotator.py:32-54).  Newest = lexicographic max, because
    filenames embed an ISO timestamp.  Pure driver-side utility."""
    names = sorted(
        f
        for f in os.listdir(directory)
        if f.startswith(prefix) and f.endswith(suffix) and not f.startswith("latest_")
    )
    doomed, kept = (names[:-keep], names[-keep:]) if keep else (names, [])
    for f in doomed:
        os.remove(os.path.join(directory, f))
    if kept:
        link = os.path.join(directory, f"latest_{prefix}{suffix}")
        if os.path.islink(link) or os.path.exists(link):
            os.remove(link)
        os.symlink(kept[-1], link)
    return kept
