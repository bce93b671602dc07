"""Job API + CLI — the analog of the reference's `miw` binary and its
python launcher (reference: app/miw.cc:33-37, miw/job.cc:35-51 flags,
python/miw_job.py:14-35).

Flag parity:

* -fnames (comma-separated files)      → MiwJob(files=[...])
* -format_name                         → MiwJob(format=path or LogDef)
* -output_format json|csv|mem|all      → run(output_format=...)
* -ndisp                               → run(ndisp=...)
* -skip_header                         → MiwJob(skip_header=True)
* -appname                             → set on the LogDef
* -merge_results                       → implicit: all files are one
  DataFrame, one aggregation (the reference's incremental re-emit
  machinery, miw/job.cc:197-226 + metis/application.cc:245-249,
  collapses into a single plan under Spark)
* -autosplit / -memory_factor          → N/A: Spark partitioning/spill
* -store_content / -compressed         → store_content=True keeps a
  collect_list of raw lines per group; -compressed applies the sink
  codec (gzip line sinks, snappy columnar — the output-side mapping
  of the reference snappy path miw/log_record.cc:351-363)
* -tmp_save                            → streaming.merge (checkpointed
  incremental aggregation)
"""

from __future__ import annotations

import argparse
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators.aggregate import aggregate
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.sources import sinks
from cybersecurity_miw_spark.sources.text import from_lines, read_logs


class MiwJob:
    """Build and run one summarization job over one or more log files."""

    def __init__(
        self,
        format: str | Path | dict | LogDef,
        files: str | list[str] | None = None,
        lines: list[str] | None = None,
        skip_header: bool = False,
        appname: str = "",
        store_content: bool = False,
        compressed: bool = False,
        merge_results: bool = True,
        union_limit: int | None = None,
    ) -> None:
        if isinstance(format, LogDef):
            self.ldef = format
        elif isinstance(format, dict):
            self.ldef = LogDef.from_json(format)
        else:
            self.ldef = LogDef.load(format)
        if appname:
            self.ldef.appname = appname
        self.files = files
        self.lines = lines
        self.skip_header = skip_header
        self.store_content = store_content
        self._line_stats_enabled = False
        self._obs_in = None
        self._obs_parsed = None
        # reference -compressed snappy-compresses stored raw content
        # (log_record.cc:351-357); the Spark mapping is sink-codec
        # compression — gzip for the line sinks, snappy for columnar
        self.compressed = compressed
        # reference default is one result set per file; -merge_results
        # collapses them (miw/job.cc:134-173). Per-file mode groups on
        # an extra input_file_name() key — single Spark job either way.
        self.merge_results = merge_results
        # cap A8 union arrays at the N smallest values (None = reference
        # parity: uncapped; see operators/aggregate.py:union_limited_values
        # for why 100 TB wants a bound)
        self.union_limit = union_limit
        # set by result(): the k/v-extended LogDef matching the result
        # schema (== self.ldef for formats without dynamic fields)
        self.result_ldef = self.ldef

    # -- plan builders --

    def source(self, spark: SparkSession) -> DataFrame:
        if self.lines is not None:
            return from_lines(spark, self.lines, self.ldef)
        if self.files is None:
            raise ValueError("MiwJob needs files or lines")
        return read_logs(
            spark,
            self.files,
            self.ldef,
            self.skip_header,
            with_file=not self.merge_results,
        )

    @property
    def _extra_keys(self) -> tuple[str, ...]:
        return () if self.merge_results or self.lines is not None else ("_file",)

    def parsed(self, spark: SparkSession) -> DataFrame:
        """Tokenized, match-filtered, typed rows (pre-aggregation).
        With ``store_content`` the raw line rides along as ``_raw``
        (reference -store_content, miw/log_format.cc:596-597)."""
        from cybersecurity_miw_spark.plans.compiler import parse

        src = self.source(spark)
        if self._line_stats_enabled:
            # an Observation attaches to ONE DataFrame only — mint a
            # fresh pair per parsed() call so repeated result() calls
            # (which the docstring invites) don't reuse a consumed one;
            # line_stats() reads the latest pair
            from pyspark.sql import Observation

            self._obs_in = Observation("miw_input_lines")
            self._obs_parsed = Observation("miw_parsed_rows")
        if self._obs_in is not None:
            src = src.observe(self._obs_in, F.count(F.lit(1)).alias("n"))
        rows = parse(
            src,
            self.ldef,
            keep_raw=self.store_content,
            passthrough=self._extra_keys,
        )
        if self._obs_parsed is not None:
            rows = rows.observe(
                self._obs_parsed, F.count(F.lit(1)).alias("n")
            )
        return rows

    def enable_line_stats(self) -> None:
        """Arm one-pass line accounting (the reference's skipped-line
        reporting, mr_job.cc non-quiet mode): two Observation nodes —
        input lines and rows surviving tokenize + size filter + match
        predicates — fill as a side effect of whatever action the
        caller runs; no extra job, no second scan. Read with
        :meth:`line_stats` AFTER an action. Each :meth:`parsed` call
        mints a fresh Observation pair (Spark forbids reusing one
        across DataFrames), so re-running ``result()`` is safe;
        :meth:`line_stats` reports the most recently built frame."""
        self._line_stats_enabled = True

    def line_stats(self) -> dict:
        """{'n_input', 'n_parsed', 'n_skipped'} — call after an action
        on a frame built since :meth:`enable_line_stats`. n_skipped
        counts BOTH malformed lines (fewer tokens than the format
        needs) and match-filtered lines, exactly the rows the
        reference's reduce never sees."""
        if self._obs_in is None or self._obs_parsed is None:
            raise RuntimeError("call enable_line_stats() before running")
        n_in = self._obs_in.get["n"]
        n_ok = self._obs_parsed.get["n"]
        return {
            "n_input": n_in,
            "n_parsed": n_ok,
            "n_skipped": n_in - n_ok,
        }

    def result(self, spark: SparkSession) -> DataFrame:
        """The aggregated (unordered) result DataFrame. Formats with
        k/v preprocessing fields get a k/v-extended LogDef (mirroring
        the reference's per-record ldef extension,
        miw/log_format.cc:570-576) kept in ``self.result_ldef`` — the
        constructor-supplied ``self.ldef`` is never mutated, so
        repeated ``result()``/``parsed()`` calls on one job see the
        same field list. Sinks must read ``self.result_ldef``. With
        ``store_content`` the group's raw lines come out as ``content``
        from the same aggregation (one scan of the input)."""
        from cybersecurity_miw_spark.plans.compiler import discover_kv_fields

        rows = self.parsed(spark)
        rows, ldef = discover_kv_fields(rows, self.ldef)
        self.result_ldef = ldef
        return aggregate(
            rows, ldef, self._extra_keys, union_limit=self.union_limit
        )

    # -- sinks --

    def run(
        self,
        spark: SparkSession,
        output_format: str = "mem",
        output_path: str | None = None,
        ndisp: int = 0,
    ) -> DataFrame:
        from cybersecurity_miw_spark.sources import parity

        df = self.result(spark)
        ldef = self.result_ldef  # k/v-extended to match df's schema
        codec = "gzip" if self.compressed else None
        if ndisp:
            sinks.show_top(df, ldef, ndisp)
        if output_format == "json":
            # reference-shape JSON-lines (§2.6, miw/log_record.cc:649-679)
            parity.write_json_parity(df, ldef, output_path, codec=codec)
        elif output_format == "csv":
            parity.write_csv_parity(df, ldef, output_path, codec=codec)
        elif output_format == "json-columnar":
            sinks.write_json(df, ldef, output_path)
        elif output_format == "csv-columnar":
            sinks.write_csv(df, ldef, output_path)
        elif output_format == "text":
            sinks.write_text(df, ldef, output_path, codec=codec)
        elif output_format in ("parquet", "orc"):
            # columnar sinks for downstream analytics: typed schema
            # preserved (arrays stay arrays), splittable, stats-bearing
            # — what a result feeding further Spark/DuckDB jobs wants
            w = df.write.mode("overwrite").format(output_format)
            if self.compressed:
                w = w.option("compression", "snappy")
            w.save(output_path)
        elif output_format in ("mem", "all"):
            pass
        else:
            raise ValueError(f"unknown output_format {output_format!r}")
        return df


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        "miwspark", description="format-driven log summarization on Spark"
    )
    ap.add_argument("-fnames", required=True, help="comma-separated log files")
    ap.add_argument(
        "-format_name",
        default=None,
        help="path to format JSON/.fmt (not needed with -compact)",
    )
    ap.add_argument(
        "-compact",
        action="store_true",
        help="simple_log_compacter mode (app/simple_log_compacter.cc): "
        "collapse exact-duplicate lines across the inputs and write "
        "the survivors — no format needed",
    )
    ap.add_argument(
        "-output_format",
        default=None,
        choices=[
            "json", "csv", "json-columnar", "csv-columnar", "text",
            "parquet", "orc", "mem",
        ],
        help="defaults to json (text in -compact mode, which only "
        "emits raw surviving lines)",
    )
    ap.add_argument("-ofname", default=None, help="output path")
    ap.add_argument("-ndisp", type=int, default=5)
    ap.add_argument("-skip_header", action="store_true")
    ap.add_argument("-appname", default="")
    ap.add_argument("-store_content", action="store_true")
    # reference default: one result set per input file; -merge_results
    # collapses all files into one (miw/job.cc:35,134-173)
    ap.add_argument("-merge_results", action="store_true")
    ap.add_argument(
        "-union_limit", type=int, default=0,
        help="cap A8 union arrays at the N smallest values (0 = "
        "uncapped reference parity; set at scale so a hot group cannot "
        "grow an unbounded aggregation buffer)",
    )
    # ---- reference flags with a direct Spark mapping ----
    ap.add_argument(
        "-nprocs", type=int, default=0,
        help="cores (reference miw/job.cc:36) → local[n] master",
    )
    ap.add_argument(
        "-reduce_tasks", type=int, default=0,
        help="reference reduce-task count → spark.sql.shuffle.partitions "
        "floor (AQE still coalesces at runtime)",
    )
    ap.add_argument(
        "-quiet", action="store_true", default=True,
        help="WARN-level logs (reference default true)",
    )
    ap.add_argument("-no-quiet", dest="quiet", action="store_false")
    # ---- reference flags that are no-ops on Spark (accepted so a
    # reference command line runs unchanged) ----
    ap.add_argument(
        "-autosplit", action="store_true",
        help="no-op: Spark splits inputs by spark.sql.files."
        "maxPartitionBytes and spills instead of OOM "
        "(reference memory-aware autosplit, miw/job.cc:283-287)",
    )
    ap.add_argument(
        "-memory_factor", type=float, default=10.0,
        help="no-op: see -autosplit",
    )
    ap.add_argument(
        "-map_tasks", type=int, default=0,
        help="no-op: input split count is size-driven",
    )
    ap.add_argument(
        "-compressed", action="store_true",
        help="compress the written output: gzip for the line sinks "
        "(json/csv/text), explicit snappy for parquet/orc — the sink-"
        "codec mapping of the reference's snappy-compressed stored "
        "raw content (log_record.cc:351-357)",
    )
    ap.add_argument(
        "-tmp_save", action="store_true",
        help="no-op in batch (all files are one plan); the incremental "
        "snapshot-per-chunk mode is streaming.merge.stream_logs",
    )
    ap.add_argument(
        "-explain", action="store_true",
        help="print the compiled physical plan (formatted) and exit "
        "without executing",
    )
    args = ap.parse_args(argv)

    from cybersecurity_miw_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.nprocs}]" if args.nprocs > 0 else None,
        shuffle_partitions=args.reduce_tasks or None,
    )
    if args.quiet:
        spark.sparkContext.setLogLevel("WARN")
    if args.compact:
        if args.output_format not in (None, "text"):
            ap.error(
                f"-compact emits raw surviving lines (text); "
                f"-output_format {args.output_format} is not supported"
            )
        from cybersecurity_miw_spark.operators.compact import compact_logs

        out = compact_logs(spark, args.fnames)
        if args.ofname:
            out.write.mode("overwrite").text(args.ofname)
        else:
            for r in out.limit(args.ndisp).collect():
                print(r[0])
        return
    if not args.format_name:
        ap.error("-format_name is required unless -compact is set")
    job = MiwJob(
        format=args.format_name,
        files=args.fnames,
        skip_header=args.skip_header,
        appname=args.appname,
        store_content=args.store_content,
        compressed=args.compressed,
        merge_results=args.merge_results,
        union_limit=args.union_limit or None,
    )
    if args.explain:
        # print the compiled physical plan instead of executing — the
        # format-compiler debugging aid ("is my filter pushed down?
        # how many exchanges does this format cost?")
        print(
            job.result(spark)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        return
    if not args.quiet:
        # reference non-quiet mode reports unparsed lines
        # (mr_job.cc); here it's two Observation nodes on the same
        # pass — no second scan
        job.enable_line_stats()
    job.run(
        spark,
        output_format=args.output_format or "json",
        output_path=args.ofname,
        ndisp=args.ndisp,
    )
    if not args.quiet and (args.ofname or args.ndisp):
        import sys as _sys

        st = job.line_stats()
        print(
            f"[miw] parsed {st['n_parsed']} of {st['n_input']} lines "
            f"({st['n_skipped']} skipped)",
            file=_sys.stderr,
        )


if __name__ == "__main__":
    main()
