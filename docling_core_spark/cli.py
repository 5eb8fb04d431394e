"""CLI entry points (reference cli/serialize.py equivalent, S8).

  python -m docling_core_spark.cli serialize --to markdown doc.json
  python -m docling_core_spark.cli extract --input pages.parquet --output out/
  python -m docling_core_spark.cli bench
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _load_doc(path: Path):
    from docling_core_spark.functions.doctags_load import load_from_doctags
    from docling_core_spark.model.doc import Doc

    text = path.read_text(encoding="utf-8")
    if path.suffix in (".yaml", ".yml"):
        import yaml

        return Doc.from_dict(yaml.safe_load(text))
    if path.suffix == ".dt" or text.lstrip().startswith("<doctag>"):
        return load_from_doctags(text, name=path.stem)
    if path.suffix in (".html", ".htm"):
        from docling_core_spark.functions.html_parse import parse_html

        return parse_html(text, name=path.stem)
    return Doc.from_json(text)


def cmd_serialize(args: argparse.Namespace) -> int:
    doc = _load_doc(Path(args.file))
    to = args.to
    if to in ("markdown", "md"):
        from docling_core_spark.functions.serializers import export_to_markdown

        out = export_to_markdown(doc)
    elif to in ("text", "txt"):
        from docling_core_spark.functions.serializers import export_to_text

        out = export_to_text(doc)
    elif to == "html":
        from docling_core_spark.functions.html_out import export_to_html

        out = export_to_html(doc)
    elif to == "doctags":
        from docling_core_spark.functions.doctags import export_to_doctags

        out = export_to_doctags(doc)
    elif to in ("latex", "tex"):
        from docling_core_spark.functions.latex_out import export_to_latex

        out = export_to_latex(doc)
    elif to == "azure":
        from docling_core_spark.functions.azure_out import export_to_azure

        out = export_to_azure(doc, indent=2)
    elif to == "json":
        out = json.dumps(doc.to_dict(), indent=2, ensure_ascii=False)
    elif to == "element_tree":
        from docling_core_spark.functions.serializers import export_to_element_tree

        out = export_to_element_tree(doc)
    elif to == "chunks":
        from docling_core_spark.functions.chunkers import HybridChunker

        chunks = HybridChunker().chunk(doc)
        out = json.dumps(
            [{"text": c["text"], "headings": c.get("headings")} for c in chunks],
            indent=2,
            ensure_ascii=False,
        )
    else:
        print(f"unknown format: {to}", file=sys.stderr)
        return 2
    if args.output:
        Path(args.output).write_text(out + "\n", encoding="utf-8")
    else:
        print(out)
    return 0


def add_extract_arguments(ap: argparse.ArgumentParser) -> argparse.ArgumentParser:
    """The run_pipeline flags, shared by `cli extract` and `plans.pipeline`."""
    ap.add_argument("--input", default=None, help="parquet path of web_pages")
    ap.add_argument("--sf-dir", default=None, help="testdata dir for the synthetic source")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunker", default="hybrid", choices=["hybrid", "hierarchical"])
    ap.add_argument("--max-tokens", type=int, default=512)
    ap.add_argument("--no-checkpoint", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    return ap


def cmd_extract(args: argparse.Namespace) -> int:
    from docling_core_spark.plans.pipeline import build_pages, run_pipeline
    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="docling-extract-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    pages = build_pages(spark, args.input, args.sf_dir)
    summary = run_pipeline(
        spark,
        pages,
        args.output,
        chunker=args.chunker,
        max_tokens=args.max_tokens,
        checkpointed=not args.no_checkpoint,
        n_buckets=args.buckets,
    )
    print(json.dumps(summary))
    return 0


def cmd_pdf(args: argparse.Namespace) -> int:
    """Parse PDF files: page text table (default) or per-file markdown."""
    from docling_core_spark.session import get_spark
    from docling_core_spark.sources.pdf import pdf_docs_df, pdf_pages_df

    spark = get_spark(app_name="docling-pdf-cli")
    spark.sparkContext.setLogLevel("WARN")
    if args.markdown:
        df = pdf_docs_df(spark, args.input)
    else:
        df = pdf_pages_df(spark, args.input, split_pages=args.split_pages)
    df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows": n, "output": args.output}))
    return 0


def cmd_warc(args: argparse.Namespace) -> int:
    """Ingest WARC archives into the web-pages table."""
    from docling_core_spark.session import get_spark
    from docling_core_spark.sources.warc import warc_pages_df

    spark = get_spark(app_name="docling-warc-cli")
    spark.sparkContext.setLogLevel("WARN")
    df = warc_pages_df(spark, args.input, split_bytes=args.split_bytes)
    df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows": n, "output": args.output}))
    return 0


def cmd_main_content(args: argparse.Namespace) -> int:
    """DOM-heuristic main-content extraction over a pages parquet table."""
    from docling_core_spark.operators.boilerplate import main_content_df
    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="docling-maincontent-cli")
    spark.sparkContext.setLogLevel("WARN")
    pages = spark.read.parquet(args.input)
    df = main_content_df(pages)
    df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows": n, "output": args.output}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="docling-core-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ser = sub.add_parser("serialize", help="serialize a document file")
    ser.add_argument("file")
    ser.add_argument(
        "--to",
        default="markdown",
        choices=["markdown", "md", "text", "txt", "html", "doctags", "latex", "tex", "azure", "json", "element_tree", "chunks"],
    )
    ser.add_argument("--output", default=None)
    ser.set_defaults(fn=cmd_serialize)

    ext = sub.add_parser("extract", help="run the Spark extraction pipeline")
    add_extract_arguments(ext).set_defaults(fn=cmd_extract)

    pdf = sub.add_parser("pdf", help="parse PDF files to page text / markdown")
    pdf.add_argument("--input", required=True, help="path or glob of .pdf files")
    pdf.add_argument("--output", required=True)
    pdf.add_argument("--markdown", action="store_true")
    pdf.add_argument("--split-pages", type=int, default=None)
    pdf.set_defaults(fn=cmd_pdf)

    warc = sub.add_parser("warc", help="ingest WARC archives to the pages table")
    warc.add_argument("--input", required=True, help="path or glob of .warc[.gz]")
    warc.add_argument("--output", required=True)
    warc.add_argument("--split-bytes", type=int, default=None)
    warc.set_defaults(fn=cmd_warc)

    mc = sub.add_parser(
        "main-content", help="DOM-heuristic boilerplate removal over pages parquet"
    )
    mc.add_argument("--input", required=True, help="pages parquet with url+html")
    mc.add_argument("--output", required=True)
    mc.set_defaults(fn=cmd_main_content)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
