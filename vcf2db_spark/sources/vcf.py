"""VCF source for Spark (SURVEY.md §2A A1).

Spark-first replacement for the reference's cyvcf2/htslib streaming loop
[U vcf2db.py §VCFDB.load ~L640]: the schema comes from the VCF header (A2)
and the partitions are contigs — mirroring tabix seek semantics.

Scale design (100 TB): one partition per (contig, tabix chunk-range). With
a BGZF input and a ``.tbi`` index (``sources.bgzf`` / ``sources.tabix`` —
pure-Python readers of the htslib formats), each partition **seeks** to its
contig's virtual-offset range and inflates only those blocks. Plain-text/
plain-gzip inputs fall back to per-partition filtered scans (same row
protocol, so the two paths stay interchangeable). Genotype matrices land
as typed arrays; Parquet page compression replaces the reference's snappy
blobs (A8) — the byte-parity codec lives in ``functions.codecs``.

Two entry points share one planner and one parse (``VCFReader``):

- ``read_vcf`` — the load path. It plans the splits on the driver and
  scans them with one ``mapInArrow`` over ``spark.range`` (task *i* reads
  split *i*). It prunes nothing: a filter on its result runs after a full
  scan. It avoids the Python DataSource because Spark runs every DataSource
  planner call (register, load, plan the read) in its own per-module
  Python daemon: on a 4-core host, planning the first read of a session
  took 5.1 s through the DataSource and 1.2 s here, each later plan
  0.29 s and 0.07 s.
- ``spark.read.format("vcf")`` after
  ``spark.dataSource.register(VCFDataSource)`` — the one entry point with
  locus pushdown: ``chrom``/``start``/``end`` predicates (Spark 4
  DataSource ``pushFilters``) prune partitions and narrow the chunk ranges,
  the distributed twin of a tabix region query.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from vcf2db_spark.sources.header import (
    VCFHeader,
    build_schema,
    clean,
    parse_header,
    read_header_text,
)

MISSING_INT = -1  # cyvcf2's missing-depth/qual sentinel
_MAX_POS = 1 << 29  # tabix coordinate ceiling


@dataclass
class ContigPartition(InputPartition):
    contig: str | None  # None → whole file (unpartitioned fallback)
    #: tabix chunk ranges [(vbeg, vend), ...] — when set, the reader seeks
    #: instead of scanning
    chunks: list[tuple[int, int]] | None = None
    #: residual locus window [beg, end) applied during the seek-read
    beg: int = 0
    end: int = _MAX_POS


def _open(path: str):
    return gzip.open(path, "rt") if path.endswith(".gz") else open(path, "rt")


def _header_text(path: str) -> str:
    """Header text for either container: BCF embeds the identical VCF
    header text, so schema inference (A2) is container-agnostic."""
    from vcf2db_spark.sources.bcf import is_bcf, read_bcf_header_text

    if is_bcf(path):
        return read_bcf_header_text(path)
    return read_header_text(path)


def _typed_scalar(val: str, vtype: str):
    if val == ".":
        return None
    if vtype == "Integer":
        return int(val)
    if vtype == "Float":
        return float(val)
    return val


def _parse_info(raw: str, header: VCFHeader) -> dict[str, object]:
    out: dict[str, object] = {}
    if raw == ".":
        return out
    for item in raw.split(";"):
        if not item:
            continue
        if "=" in item:
            key, val = item.split("=", 1)
        else:
            key, val = item, None
        fd = header.infos.get(key)
        if fd is None:
            continue
        if fd.type == "Flag":
            out[key] = True
        elif fd.is_list:
            out[key] = [_typed_scalar(v, fd.type) for v in val.split(",")] if val else None
        else:
            if val is not None and "," in val:
                raise ValueError(
                    f"INFO field {key} (Number={fd.number}) has multiple values "
                    f"({val!r}); input must be decomposed (one ALT per record) — "
                    "run `vt decompose` / `bcftools norm -m-` first."
                )
            out[key] = _typed_scalar(val, fd.type) if val is not None else None
    return out


def _gt_type(alleles: list[int | None]) -> int:
    """cyvcf2 coding: 0=hom_ref, 1=het, 2=unknown, 3=hom_alt.
    Any missing allele (``./1``, ``./.``) → unknown, as cyvcf2 codes it."""
    if any(a is None for a in alleles):
        return 2
    if all(a == 0 for a in alleles):
        return 0
    if all(a > 0 for a in alleles):
        return 3
    return 1


def _parse_sample(
    fmt_keys: list[str], raw: str, ref: str, alt: str
) -> tuple[str, int, bool, int, int, int, int]:
    """One sample's FORMAT blob → (gt_bases, gt_type, phased, depth,
    ref_depth, alt_depth, qual)."""
    vals = raw.split(":")
    d = dict(zip(fmt_keys, vals))
    gt_raw = d.get("GT", "./.")
    phased = "|" in gt_raw
    sep = "|" if phased else "/"
    alleles: list[int | None] = []
    for tok in gt_raw.replace("|", "/").split("/"):
        alleles.append(None if tok in (".", "") else int(tok))
    allele_bases = {0: ref, 1: alt}
    bases = sep.join("." if a is None else allele_bases.get(a, alt) for a in alleles)
    gq = d.get("GQ", ".")
    dp = d.get("DP", ".")
    ad = d.get("AD", ".")
    ref_d = alt_d = MISSING_INT
    if ad not in (".", "") and "," in ad:
        parts = ad.split(",")
        if parts[0] not in (".", ""):
            ref_d = int(parts[0])
        if parts[1] not in (".", ""):
            alt_d = int(parts[1])
    return (
        bases,
        _gt_type(alleles),
        phased,
        int(dp) if dp not in (".", "") else MISSING_INT,
        ref_d,
        alt_d,
        int(gq) if gq not in (".", "") else MISSING_INT,
    )


def _decompose_sample(fmt_keys: list[str], raw: str, ai: int, n_alts: int) -> str:
    """Per-sample FORMAT rewrite for alt index ``ai`` (vt decompose -s
    semantics): GT alleles map 0→0, (ai+1)→1, any other alt→'.';
    Number=R fields (AD) subset to [ref, alt_ai]."""
    vals = raw.split(":")
    for idx, key in enumerate(fmt_keys):
        if idx >= len(vals):
            break
        if key == "GT":
            gt = vals[idx]
            sep = "|" if "|" in gt else "/"
            toks = []
            for t in gt.replace("|", "/").split("/"):
                if t in (".", ""):
                    toks.append(".")
                else:
                    a = int(t)
                    toks.append("0" if a == 0 else ("1" if a == ai + 1 else "."))
            vals[idx] = sep.join(toks)
        elif key == "AD":
            ad = vals[idx]
            if ad not in (".", "") and "," in ad:
                advals = ad.split(",")
                if len(advals) == n_alts + 1:
                    vals[idx] = f"{advals[0]},{advals[ai + 1]}"
    return ":".join(vals)


def _decompose_parts(
    parts: list[str], header: VCFHeader, ai: int, alt_i: str, n_alts: int
) -> list[str]:
    """One multi-allelic record → the single-alt record for alt index
    ``ai``: INFO Number=A picks slot ai, Number=R keeps [ref, alt_ai],
    Number=G (genotype-likelihood shaped) is dropped — the reference punts
    on G entirely (SURVEY §7 hard-part 4); everything else passes through."""
    new = list(parts)
    new[4] = alt_i
    if parts[7] != ".":
        out_items = []
        for item in parts[7].split(";"):
            if "=" not in item:
                out_items.append(item)
                continue
            key, val = item.split("=", 1)
            fd = header.infos.get(key)
            if fd is None:
                out_items.append(item)
                continue
            vals = val.split(",")
            if fd.number == "A" and len(vals) == n_alts:
                out_items.append(f"{key}={vals[ai]}")
            elif fd.number == "R" and len(vals) == n_alts + 1:
                out_items.append(f"{key}={vals[0]},{vals[ai + 1]}")
            elif fd.number == "G":
                continue
            else:
                out_items.append(item)
        new[7] = ";".join(out_items) if out_items else "."
    if len(parts) > 8:
        fmt_keys = parts[8].split(":")
        for si in range(9, len(parts)):
            new[si] = _decompose_sample(fmt_keys, parts[si], ai, n_alts)
    return new


def _row_builder(header: VCFHeader, schema: T.StructType, decompose: str = "reject"):
    """Compile the per-line transform once per partition: tab-split parts →
    LIST of schema-ordered tuples (one per alt under ``decompose='split'``;
    multi-allelic input raises under the default ``'reject'``, preserving
    the reference's `vt decompose` precondition)."""
    info_fields = [
        (f.name, fid)
        for fid, f in (
            (fid, T.StructField(clean(fid), fd.spark_type())) for fid, fd in header.infos.items()
        )
        if f.name in schema.fieldNames()
    ]
    has_gts = "gts" in schema.fieldNames()

    def build_one(parts: list[str]) -> tuple:
        chrom, pos, _vid, ref, alt, qual, filt, info_raw = parts[:8]
        info = _parse_info(info_raw, header)
        row: list[object] = [
            chrom,
            int(pos) - 1,  # 0-based start, as in the reference's schema
            int(pos) - 1 + len(ref),
            ref,
            alt,
            float(qual) if qual not in (".", "") else None,
            None if filt in (".", "PASS") else filt,
        ]
        for _col_name, fid in info_fields:
            row.append(info.get(fid))
        if has_gts:
            fmt_keys = parts[8].split(":") if len(parts) > 8 else []
            samples = [_parse_sample(fmt_keys, raw, ref, alt) for raw in parts[9:]]
            for i in range(7):
                row.append([s[i] for s in samples])
        return tuple(row)

    def build(parts: list[str]) -> list[tuple]:
        alt = parts[4]
        if "," not in alt:
            return [build_one(parts)]
        if decompose != "split":
            raise ValueError(
                f"multi-allelic record at {parts[0]}:{parts[1]} (ALT={alt!r}); "
                "input must be decomposed — run `vt decompose` first, or "
                "read with decompose='split'."
            )
        alts = alt.split(",")
        return [
            build_one(_decompose_parts(parts, header, ai, alt_i, len(alts)))
            for ai, alt_i in enumerate(alts)
        ]

    return build


def _iter_records(
    path: str,
    header: VCFHeader,
    schema: T.StructType,
    contig: str | None,
    decompose: str = "reject",
):
    """Filtered full scan (plain text / plain gzip, or no index): each
    partition streams the file and keeps only its contig."""
    build = _row_builder(header, schema, decompose)
    with _open(path) as fh:
        for line in fh:
            if line.startswith("#"):
                continue
            parts = line.rstrip("\n").split("\t")
            if contig is not None and parts[0] != contig:
                continue
            yield from build(parts)


def _iter_chunks(
    path: str,
    header: VCFHeader,
    schema: T.StructType,
    partition: "ContigPartition",
    decompose: str = "reject",
):
    """Tabix-seek read: inflate only the partition's BGZF chunk ranges and
    keep records overlapping its [beg, end) locus window. This is the
    htslib region-query loop re-expressed per Spark partition."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    build = _row_builder(header, schema, decompose)
    beg, end = partition.beg, partition.end
    with BGZFReader(path) as rd:
        for vbeg, vend in partition.chunks or ():
            rd.seek_virtual(vbeg)
            while rd.tell_virtual() < vend:
                line = rd.readline()
                if not line:
                    break
                if line.startswith(b"#"):
                    continue
                parts = line.rstrip(b"\n").decode().split("\t")
                rec_beg = int(parts[1]) - 1
                rec_end = rec_beg + len(parts[3])
                if rec_beg < end and rec_end > beg:
                    yield from build(parts)


def _iter_bcf(
    path: str,
    header: VCFHeader,
    schema: T.StructType,
    partition: "ContigPartition",
    decompose: str = "reject",
):
    """BCF twin of the two text loops: CSI-seek chunk read when the
    partition carries chunk ranges, else a filtered framed scan. Binary
    records decode to text parts feeding the SAME row builder — one
    parsing semantics, two containers (sources/bcf.py)."""
    from vcf2db_spark.sources import bcf

    build = _row_builder(header, schema, decompose)
    if partition.chunks is not None:  # [] = provably-empty partition
        src = bcf.iter_bcf_chunk_parts(
            path, partition.chunks, partition.beg, partition.end
        )
    else:
        src = bcf.iter_bcf_parts(path, partition.contig)
    for parts in src:
        yield from build(parts)


class VCFReader(DataSourceReader):
    #: rows per Arrow RecordBatch — large enough to amortize the
    #: columnarization, small enough to keep per-batch memory flat
    BATCH_ROWS = 4096

    def __init__(self, schema: T.StructType, options: dict):
        # Spark passes reader options through a case-insensitive map that
        # LOWERCASES keys — read camelCase options via their lowercase form
        # (with the original spelling as a fallback for direct construction
        # in unit tests).
        def opt(key: str, default: str) -> str:
            return options.get(key.lower(), options.get(key, default))

        self.schema_ = schema
        self.path = options["path"]
        from vcf2db_spark.sources.bcf import is_bcf

        self.is_bcf = is_bcf(self.path)
        self.header = parse_header(_header_text(self.path))
        self.decompose = opt("decompose", "reject").lower()
        self.contigs = self.header.contigs
        #: target COMPRESSED bytes per partition for intra-contig splitting
        #: (VERDICT r5 item 5): a whole-genome single-contig VCF must not
        #: collapse to one task. 0 disables (one partition per contig).
        self.split_bytes = int(opt("targetPartitionBytes", str(64 << 20)))
        # pushed-down locus constraints (pushFilters fills these)
        self.chrom_in: set[str] | None = None
        self.beg, self.end = 0, _MAX_POS
        self.index = self._load_index(options.get("index", "auto").lower())

    def _load_index(self, mode: str):
        """Index handling: ``auto`` uses ``{path}.tbi`` (text VCF) or
        ``{path}.csi`` (either container — bcftools indexes BCF with CSI
        natively and tabix -C writes CSI over .vcf.gz) when present,
        ``build`` creates the container's native index driver-side if
        missing (one sequential pass — the same cost tabix/bcftools
        index pays), ``none`` disables seeks. TabixIndex and CSIIndex
        expose the same planner surface (names/chunks/partition_chunks),
        so everything downstream is index-format-agnostic."""
        if mode == "none":
            return None
        if self.is_bcf:
            from vcf2db_spark.sources.bcf import (
                header_dicts,
                index_bcf,
                read_bcf_header_text,
            )
            from vcf2db_spark.sources.csi import read_csi

            csi = self.path + ".csi"
            if not os.path.exists(csi):
                if mode != "build":
                    return None
                index_bcf(self.path, csi)
            # rid numbering MUST match the decode path: explicit IDX=
            # overrides (bcftools reheader can pin out-of-order slots)
            # reorder the contig dictionary away from header file order,
            # and a planner keyed on file order would prune the wrong
            # partitions silently — use the IDX-aware dictionary
            contigs, _ = header_dicts(read_bcf_header_text(self.path))
            return read_csi(csi, names=contigs)
        if not self.path.endswith(".gz"):
            return None
        from vcf2db_spark.sources.bgzf import is_bgzf
        from vcf2db_spark.sources.tabix import index_vcf, read_tbi

        if not is_bgzf(self.path):
            return None
        tbi = self.path + ".tbi"
        if not os.path.exists(tbi):
            csi = self.path + ".csi"
            if os.path.exists(csi):
                from vcf2db_spark.sources.csi import read_csi

                return read_csi(csi, names=self.header.contigs)
            if mode != "build":
                return None
            index_vcf(self.path, tbi)
        return read_tbi(tbi)

    def pushFilters(self, filters: list[Filter]):
        """Capture chrom/start/end constraints for partition pruning and
        chunk narrowing. Every filter is returned (Spark re-applies them),
        so pruning only ever has to be a safe over-approximation."""
        for f in filters:
            attr = f.attribute[0] if len(f.attribute) == 1 else None
            if isinstance(f, EqualTo) and attr == "chrom":
                vals = {f.value}
                self.chrom_in = vals if self.chrom_in is None else self.chrom_in & vals
            elif isinstance(f, In) and attr == "chrom":
                vals = set(f.value)
                self.chrom_in = vals if self.chrom_in is None else self.chrom_in & vals
            elif attr == "start" and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                v = f.value + 1 if isinstance(f, GreaterThan) else f.value
                self.beg = max(self.beg, int(v))
            elif attr == "start" and isinstance(f, (LessThan, LessThanOrEqual)):
                # records with start < v overlap [beg, v+1) by rec_beg < end
                v = f.value + 1 if isinstance(f, LessThanOrEqual) else f.value
                self.end = min(self.end, int(v))
            elif attr == "end" and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # records with end > v overlap [v, ...): rec_end > beg
                v = f.value if isinstance(f, GreaterThan) else f.value - 1
                self.beg = max(self.beg, int(v))
        return filters

    def partitions(self):
        contigs = self.contigs or (self.index.names if self.index else [])
        if self.chrom_in is not None:
            contigs = [c for c in contigs if c in self.chrom_in]
        if self.index is not None:
            parts = []
            for c in contigs:
                if self.split_bytes > 0:
                    # N partitions per contig over disjoint chunk ranges,
                    # cut at linear-index record starts (~split_bytes
                    # compressed each) — intra-contig parallelism for the
                    # single-contig / skewed-contig file.
                    for sub in self.index.partition_chunks(
                        c, self.beg, self.end, self.split_bytes
                    ):
                        parts.append(ContigPartition(c, sub, self.beg, self.end))
                else:
                    chunks = self.index.chunks(c, self.beg, self.end)
                    if chunks:
                        parts.append(
                            ContigPartition(c, chunks, self.beg, self.end)
                        )
            # all partitions pruned → one empty partition (Spark needs ≥1)
            return parts or [ContigPartition(None, [], self.beg, self.end)]
        if contigs:
            return [ContigPartition(c) for c in contigs]
        if self.chrom_in is not None and self.contigs:
            return [ContigPartition(None, [])]  # pruned to nothing
        return [ContigPartition(None)]

    def read(self, partition: ContigPartition):
        """Columnar RecordBatches of ``partition``'s rows: no per-row
        pickling and no row→columnar conversion on the JVM side."""
        if self.is_bcf:
            rows = _iter_bcf(
                self.path, self.header, self.schema_, partition, self.decompose
            )
        elif partition.chunks is not None:
            rows = _iter_chunks(
                self.path, self.header, self.schema_, partition, self.decompose
            )
        else:
            rows = _iter_records(
                self.path, self.header, self.schema_, partition.contig, self.decompose
            )
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema_)
        buf: list[tuple] = []
        for row in rows:
            buf.append(row)
            if len(buf) >= self.BATCH_ROWS:
                yield _to_record_batch(buf, arrow_schema, pa)
                buf = []
        if buf:
            yield _to_record_batch(buf, arrow_schema, pa)


def _to_record_batch(rows: list[tuple], arrow_schema, pa):
    cols = list(zip(*rows))
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(cols, arrow_schema)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _schema(path: str, black_list: tuple[str, ...], include_genotypes: bool) -> T.StructType:
    header = parse_header(_header_text(path))
    return build_schema(header, black_list=black_list, include_genotypes=include_genotypes)


class VCFDataSource(DataSource):
    """``spark.read.format("vcf").load(path)`` after
    ``spark.dataSource.register(VCFDataSource)``: the entry point whose
    ``chrom``/``start``/``end`` filters prune partitions (it needs
    ``spark.sql.python.filterPushdown.enabled``, which ``get_spark`` and
    ``pin_session_conf`` set).

    Options: ``black_list`` (comma-separated INFO IDs to drop — the
    reference's ``--black-list`` [U vcf2db.py §main ~L1150]);
    ``include_genotypes`` (default true); ``index`` (``auto`` = use
    ``{path}.tbi`` when present, ``build`` = create it if missing,
    ``none`` = filtered scans only); ``decompose``;
    ``targetPartitionBytes`` (default 64 MB)."""

    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self) -> T.StructType:
        bl = tuple(x for x in self.options.get("black_list", "").split(",") if x)
        inc = self.options.get("include_genotypes", "true").lower() == "true"
        return _schema(self.options["path"], bl, inc)

    def reader(self, schema: T.StructType) -> VCFReader:
        return VCFReader(schema, dict(self.options))


def read_vcf(
    spark: SparkSession,
    path: str,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    index: str = "auto",
    decompose: str = "reject",
    target_partition_bytes: int | None = None,
) -> DataFrame:
    """Library entry point (reference entry point 2, [U §VCFDB.__init__ ~L580]).

    Plans the splits on the driver (header, index and ``index='build'``
    happen here, not at the first action) and returns one ``mapInArrow``
    over ``spark.range(n)``: task *i* parses split *i* into Arrow batches.
    No filter on the result is pushed into the scan; a locus query that
    should read only its contig's blocks goes through
    ``spark.read.format("vcf")`` (``VCFDataSource``). The load skips the
    DataSource because Spark runs each of its planner calls in a
    per-module Python daemon (see the module docstring).

    ``decompose='split'`` decomposes multi-allelic records in-engine
    (vt decompose -s semantics: per-alt INFO A/R slicing, GT allele
    remap with other-alt→'.', AD subsetting, Number=G dropped) — the
    preprocessing step the reference requires users to run externally.
    The default ``'reject'`` preserves the reference's precondition."""
    if target_partition_bytes is None:
        # Adaptive split target: the Python decode (not IO) is the scan
        # bottleneck, so a small-but-expensive file should fan out across
        # every core instead of stopping at one task per contig — aim for
        # ~2 waves over defaultParallelism, clamped to [256 KB, 64 MB].
        # At warehouse scale (file >> cores × 64 MB) the cap leaves the
        # usual 64 MB split; on one cohort-sized file per node it keeps
        # all executor threads busy (measured: 16-sample×100k BCF full
        # scan 1.9 → 1.1 s on local[32], par with the text container).
        try:
            fsize = os.path.getsize(path)
            cores = spark.sparkContext.defaultParallelism
            target_partition_bytes = min(
                64 << 20, max(256 << 10, fsize // (2 * cores))
            )
        except OSError:
            target_partition_bytes = 64 << 20
    schema = _schema(path, tuple(black_list), include_genotypes)
    reader = VCFReader(
        schema,
        {
            "path": path,
            "index": index,
            "decompose": decompose,
            "targetPartitionBytes": str(target_partition_bytes),
        },
    )
    parts = reader.partitions()
    reader.index = None  # planned: the tasks need the splits, not the index

    def scan(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from reader.read(parts[i])

    return spark.range(0, len(parts), 1, len(parts)).mapInArrow(scan, schema)
