"""Streaming CRAM sink: ``df.writeStream.format("cram")``.

Third member of the streaming shard-sink family (see
:mod:`hadoop_bam_spark.commit` for the shared replay-safe commit
protocol): each micro-batch lands as one complete standalone CRAM 3.0 per
non-empty partition (``batch-{batchId:05d}-{i:05d}.cram`` — own file
definition, header container and EOF) plus a per-batch manifest. RR=false
(verbatim sequences) by default, so no reference FASTA is needed on
executors; pass ``reference`` for reference-compressed shards.

Options:
  ``path``    target directory (required).
  ``header``  path to a SAM text / BAM file providing the header and
              reference dictionary (required).
  ``reference``  optional FASTA path (visible to every executor):
              shards become reference-compressed (RR=true, r8) and
              reading them requires the same FASTA.
  ``embed_reference``  with ``reference``: embed each single-ref
              slice's window so shards are self-contained (readers need
              no FASTA; multiref slices encode verbatim).
  ``records_per_container`` / ``records_per_slice``  container layout
              (defaults 30000 / 10000, same as the batch sink).
  ``codecs``  "gzip" (default) or "auto" — per-block measured
              rANS-4x8 for qual/flag-class series (archival setting;
              see FORMAT_BENCH.md r9).
"""

from __future__ import annotations

from hadoop_bam_spark import fs
from hadoop_bam_spark.commit import ShardStreamWriter
from hadoop_bam_spark.sources import local_path


class CRAMStreamWriter(ShardStreamWriter):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("cram stream sink requires a path (directory)")
        header_src = options.get("header")
        if not header_src:
            raise ValueError(
                "cram stream sink requires option('header', <sam-or-bam "
                "path>)"
            )
        from hadoop_bam_spark.streaming.bam_sink import _load_header

        super().__init__(local_path(path), ".cram")
        self._header, self._refs = _load_header(header_src)
        self._rpc = int(options.get("records_per_container", 30000))
        self._rps = int(options.get("records_per_slice", 10000))
        #: optional FASTA path -> reference-compressed (RR=true) shards,
        #: same contract as write_cram(reference=); readers then need the
        #: same FASTA (option("reference") on the batch cram source)
        self._reference = options.get("reference")
        #: with reference: embed each single-ref slice's window so shards
        #: are self-contained (readers need no FASTA)
        self._embed = str(
            options.get("embed_reference", "false")
        ).lower() == "true"
        #: "gzip" (default) or "auto" — per-block measured rANS for
        #: qual/flag series, same contract as write_cram(codecs=)
        self._codecs = options.get("codecs", "gzip")

    def _write_shard(self, f, iterator) -> int:
        from hadoop_bam_spark.formats import cram

        n = 0
        cram.write_file_definition(f)
        f.write(cram.encode_header_container(self._header.text))
        w = cram.CRAMWriter(
            f, self._refs, bare=True,
            records_per_container=self._rpc,
            records_per_slice=self._rps,
            ref_fasta=(
                cram.FastaRef(local_path(self._reference), open_fn=fs.open_file)
                if self._reference
                else None
            ),
            embed_reference=self._embed,
            codecs=self._codecs,
        )
        for r in iterator:
            w.write((
                r["qname"], r["flag"], r["rname"], r["pos"], r["mapq"],
                r["cigar"], r["rnext"], r["pnext"], r["tlen"], r["seq"],
                r["qual"], dict(r["tags"] or {}),
            ))
            n += 1
        w.close(write_eof=False)
        f.write(cram.EOF_CONTAINER_V3)
        return n
