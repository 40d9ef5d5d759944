#!/usr/bin/env python3
"""Mutation screen over the core reference-parity rules.

Round-trip fuzz, property sweeps, and oracle compares all assert the
ENGINE is right; this tool asserts the TESTS are sharp.  Each mutant
flips exactly one semantic clause the survey's §2 inventory claims is
pinned — the F2 inclusive upper bound, Go's truncate-toward-zero ms->s
division, the strict-2000ms downsample threshold, the hint halving, the
F9 vacuous match on missing labels, the reference's concat-anchoring
(``read.go:104``) vs upstream's ``^(?:...)$`` wrap, the as-of join's
inclusive tie order, the ``name=value`` label storage encoding
(``write.go:43``), the floor bucket alignment, and the Go chunk-line
budget — then runs only that rule's targeted killer test files and
requires a FAILURE.  A surviving mutant means a §2 row's "correctness"
column is vouched for by tests that cannot actually see that clause.

Every edit is restored even on crash (the try/finally writes the
original source back); run from anywhere, exits 0 iff all mutants die.
Snapshot-mid-run hardening (r16, after the M60 incident — VERDICT r15):
the screen refuses to start if any mutation target file is dirty vs
HEAD, and ``tests/test_mutant_screen_tool.py`` pins every mutant's
ORIGINAL snippet to appear exactly once in ``git show HEAD:<path>`` so
a committed mutant fails the suite loudly and cheaply.  Builder habit
(run docs): do NOT start a screen pass in the last ~30 min of a
session's budget — the per-mutant pytest subprocess is an exposure
window during which an external snapshot commit captures a live mutant.
Full screen (r13, nine batches): 52/52 killed.  Full screen re-run end
to end on the r15 tree after the harness hardening (first complete pass
with the pristine-tree baseline active): 52/52 KILLED, zero INVALID,
zero TIMEOUT, baseline green over all 18 killer files.  Batch 10 (r15,
M53-M61) targets the clauses the first nine batches left unpinned —
rate's first-sample drop, population-vs-sample stddev, strict reset
counting, the F11 NRE vacuous match, forward as-of tie inclusivity,
LSH self-pair exclusion, containment direction, streaming-dedup
cross-batch first-wins, and the min-shingle fingerprint — and found
two more survivors (M58, M61 below), both closed the same day: 61/61.
Batch 11 (r15, M62-M67) sweeps the mixing/quantization/ANN knobs and
the text scoring paths — int8 range +1, the multi-probe flip set, the
mixture take boundary and proportional floor, langid_frame's tie order,
and the quality-score weights — finding two more survivors (M66, M67
below), both closed the same day: 67/67.  Batch 12 (r15, M68-M71):
the S6 partition-pruning date bounds, the OPQ-lite interleave
permutation, and the histogram le inclusivity — two more survivors
(M69, M70 below), closed the same day: 71/71.  Batch 13 (r15,
M72-M74): the events->samples adapter feeding every tsdb driver row —
previously pinned only through those rows' oracles — got a direct
clause test (tests/test_events_adapter.py) covering the second
truncation, the tier rule, and the sorted label array: 74/74.  Batch
14 (r15, M75-M76): the PII redaction order and the phone test-prefix
guard — both survived (M75/M76 below), both closed the same day: 76/76.
Batch 15 (r16, M77-M86): entry-level BOUNDARY clauses — the sessionize
1800 s gap, the funnel stage windows, the split hash buckets, the
basket support floor and pair expansion, the Matryoshka leading-prefix,
the label_replace anchoring, the S8 delete upper bound, the
stale-series 24 h cut.  Boundary clauses only fire when data lands
exactly ON the boundary, so their oracle-parity pin depended on corpus
luck; the killers are direct planted-fixture tests
(tests/test_entry_clauses.py), written FIRST this batch — all 10
KILLED on the first screen pass: 86/86.  Batch 16 (r16, M87-M94):
entry-level arithmetic / frame / tie-break clauses — the packing bin's
pre-doc cumulative, the 5-point moving-average frame, the C4 gate's
20/512 token-count boundaries, the tf-idf df-asc and vocab term-asc
tie-breaks, the interleave round-robin position formula, and the
sliding-hour RANGE frame's -3599 bound — same killer-first protocol,
all 8 KILLED: 94/94.  Batch 17 (r16, M95-M101): floor-vs-toward-zero
casts on negative values (value-histogram bucket, count_values key,
centroid micro-quantize), the topk_series labelset tie-break, the
max_gap single-sample null-drop, the customers_lapsed set-difference
direction, and the funnel purchase-stage window boundary — killer-first
again, all 7 KILLED: 101/101.  Batch 18 (r16, M102-M104): the langid
zh 30% threshold boundary, the offset_ratio day-shift direction, and
the sample-membership bucket-10 cut — all 3 KILLED: 104/104.  r16 also
re-verified the full register on this tree in chunks (M1-M35,
M36-M76 + the new rules, with the dirty-tree guard active throughout):
every rule KILLED.  r18 re-ran the full 104-rule register in one pass
on the committed tree (after the argparse/guard fixes): 104/104
KILLED, zero INVALID/TIMEOUT, pristine-tree baseline green over all 20
killer files.  r19 re-ran the full register in one pass on the
committed tree (after the refuse-on-unreadable-git tightening):
104/104 KILLED, zero INVALID/TIMEOUT, baseline green.  r20 re-ran the
full register in one pass on the committed tree (after the _R20_WINDOW
hoist flip and the pregate oracle-validation/stop fixes): 104/104
KILLED, zero INVALID/TIMEOUT, baseline green.  The screen earned its
keep on first contact, surviving six times before the gaps were closed
(plus one killer-list correction: M50's CH-leg trunc test lives in
test_read_plan.py, not the sink file):

- M20 (decontamination 13->12) survived the unit suite — the randomized
  sweep passes n=5 explicitly, so only the driver's oracle row saw the
  default.  Killed by
  test_textfuncs.py::test_decontamination_default_shingle_width_is_13.
- M30 (ADC top-k neighbor_id tie-break dropped) survived because each
  mapInPandas batch already emits its partial top-k tie-sorted, so in a
  single-batch layout a stable final sort on adc alone reproduces the
  tie-break by accident — silent nondeterminism that only manifests
  when a tie group spans Arrow batches.  Killed by
  test_dedup_similarity.py::test_pq_adc_topk_cross_batch_tie_break,
  which pins duplicates into separate input partitions.
- M38 (GIF LZW width-growth boundary early-change) survived because the
  dynamic table-growth path was DEAD in every fixture: encode_gif emits
  a clear code before every symbol, so round-trips never grow the
  table, while real-world GIF encoders grow it on essentially every
  image.  Killed by
  test_multimodal.py::test_gif_lzw_table_growth_across_width_boundaries,
  an independent spec-convention (late-change) encoder crossing the
  3->4 and 4->5 bit boundaries.
- M40 (P3 label split at the LAST '=') survived because no
  response-assembly test carried a label VALUE containing '=' (the
  matcher corpus plants job=a=b, the P3 leg never did).  Killed by
  test_server.py::test_label_reexpansion_splits_at_first_equals.
- M41 (SimHash candidate generation loses a block) survived because the
  randomized corpus never produced a pair whose 3 differing bits spread
  across exactly the three non-dropped blocks.  Killed by
  test_dedup_similarity.py::test_simhash_pigeonhole_adversarial_bit_placement,
  which plants one searched single-token pair per clean-block position
  (a one-token doc's fingerprint IS its 32-bit token hash).
- M52 (bloom membership accepts k-1 of k bits) survived because every
  bloom test asserted no-false-negatives only — no fixture had a
  near-miss doc with exactly k-1 set bits.  Killed by
  test_dedup_similarity.py::test_bloom_near_miss_and_true_false_positive,
  which plants a searched 3-of-4-hit doc (reject) and a genuine
  4-of-4 false positive (accept).
- M58 (LSH candidate filter < -> <= admits self-pairs, batch 10)
  survived because the randomized sweep verifies every emitted pair
  against an independent exact Jaccard — which a self-pair passes
  trivially at 1.0.  Killed by
  test_dedup_similarity.py::test_minhash_lsh_pairs_canonical_and_no_self_pairs
  (a pairwise-disjoint corpus must emit ZERO rows) plus a canonical
  doc_a < doc_b assertion added to the sweep itself.
- M61 (min-shingle fingerprint min -> max, batch 10) survived because
  the fingerprint had no direct unit test — only the driver's oracle
  row pinned the min.  Killed by
  test_textfuncs.py::test_min_shingle_fingerprint_is_min_of_shingle_hashes,
  a hashlib differential whose fixture asserts min != max so the
  max-taking mutant cannot pass by coincidence.
- M66 (langid_frame tie order >= -> >, batch 11) survived because only
  the EXPR cascade had a unit sweep; langid_frame — the engine path the
  entry actually serves — was pinned by nothing local.  Killed by
  test_textfuncs.py::test_langid_frame_matches_expr_and_breaks_ties_en_first,
  a frame-vs-expr differential planting an exact en/de tie and a
  zero-stopword four-way tie (both must break to en).
- M67 (quality-score weight swap, batch 11) survived for the same
  reason: no unit test touched quality_score.  Killed by
  test_textfuncs.py::test_quality_score_component_weights, which pins
  the composite at inputs where the length and noise terms differ.
- M69 (partition-pruning end date <= -> <, batch 12) survived because
  the pruning test's query window ended strictly inside its last day —
  the end-INSTANT case (a sample at exactly end_ms, living in the end
  day's partition, kept by F2's inclusive upper) was never exercised.
  Killed by
  test_store_writer.py::test_partition_pruning_keeps_the_end_instant_day.
- M70 (OPQ interleave -> identity, batch 12) survived because only the
  recall diagnostic consumed the permutation, and ANY permutation —
  including the identity — yields some recall.  Killed by
  test_dedup_similarity.py::test_opq_interleave_is_the_documented_stride_permutation,
  which reads the permutation off an identity-valued vector.
- M75 (REDACTIONS order swapped, batch 14) survived because redact()
  walks the REDACTIONS tuple while pii_scan stages the same order
  inline — the tuple could drift without any test noticing.  Killed by
  test_scrub.py::test_redact_helper_agrees_with_pii_scan_order, a
  differential on an email whose host is an IPv4 plus a TLD (the one
  shape where order changes the output).
- M76 (phone pattern loses the 555 prefix, batch 14) survived because
  no fixture asserted a generic ddd-dddd span stays UNREDACTED.  Killed
  by test_scrub.py::test_phone_guard_only_matches_test_prefix.

Before mutating anything, the screen runs the union of all selected
killer files once on the PRISTINE tree (ADVICE r13): a killer file that
is already red unmutated would report every mutant routed to it as
KILLED spuriously, so those mutants are marked INVALID instead.  The
demotion is deliberately all-or-nothing (ADVICE r14): a mutant is
INVALID if ANY of its killer files is baseline-red, even when another
listed killer is healthy and might still fail legitimately — a partial
"KILLED via the surviving killers" verdict would let a degraded run
certify mutants at reduced sensitivity, and the screen already exits 1
on a red baseline, so the whole run is a do-over anyway.  A per-mutant
pytest timeout records TIMEOUT (non-KILLED) and continues, so one hung
run cannot lose the summary for the rest.

Usage:
    python tools/mutant_screen.py            # full screen (~5 min)
    python tools/mutant_screen.py M6 M7      # just those mutants
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RP = "remote_tsdb_clickhouse_spark/plans/read_plan.py"
MA = "remote_tsdb_clickhouse_spark/plans/matchers.py"
AS = "remote_tsdb_clickhouse_spark/operators/asof.py"
WR = "remote_tsdb_clickhouse_spark/sources/writer.py"
HT = "remote_tsdb_clickhouse_spark/server/http.py"

#: (id, description, file, unique-original-snippet, mutated-snippet,
#:  killer test files).  Keep each original snippet unique in its file —
#: the screen refuses to run a mutant whose site is ambiguous.
MUTANTS = [
    ("M1", "F2 upper bound inclusive -> exclusive (read.go:26-28)", RP,
     'cond = cond & (F.col("ts") <= F.timestamp_seconds(F.lit(trunc_ms_to_s(q.end_ms))))',
     'cond = cond & (F.col("ts") < F.timestamp_seconds(F.lit(trunc_ms_to_s(q.end_ms))))',
     ["tests/test_read_plan.py", "tests/test_rollup.py"]),
    ("M2", "trunc-toward-zero -> floor division (read.go:24, Go int div)", RP,
     "return -(-ms // 1000) if ms < 0 else ms // 1000",
     "return ms // 1000",
     ["tests/test_read_plan.py", "tests/test_matchers.py"]),
    ("M3", "downsample threshold strict-> -> >= (read.go:38)", RP,
     "if ignore_hints or hints.step_ms <= MIN_STEP_HINT_MS:",
     "if ignore_hints or hints.step_ms < MIN_STEP_HINT_MS:",
     ["tests/test_read_plan.py"]),
    ("M4", "downsample halving dropped (read.go:45)", RP,
     "interval_s = (interval_ms // 2) // 1000",
     "interval_s = interval_ms // 1000",
     ["tests/test_read_plan.py"]),
    ("M5", "label NEQ vacuous match on missing label removed (F9)", MA,
     "return ~F.array_contains(arr, label)  # F9: matches series missing k",
     'return F.exists(arr, lambda x: x.startswith(f"{m.name}=") & (x != F.lit(label)))',
     ["tests/test_matchers.py", "tests/test_matcher_properties.py"]),
    ("M6", "concat-anchoring -> upstream ^(?:...)$ wrap (read.go:104)", MA,
     'return "^" + _to_java_dialect(check_re2_portable(pattern)) + "$"',
     'return "^(?:" + _to_java_dialect(check_re2_portable(pattern)) + ")$"',
     ["tests/test_matchers.py", "tests/test_matcher_properties.py"]),
    ("M7", "as-of backward tie inclusivity flipped", AS,
     '.orderBy(F.col("__t").asc(), F.col("__is_right").desc())',
     '.orderBy(F.col("__t").asc(), F.col("__is_right").asc())',
     ["tests/test_asof.py"]),
    ("M8", "label storage encoding name=value -> name:value (write.go:43)", WR,
     'labels.append(f"{lb.name}={lb.value}")',
     'labels.append(f"{lb.name}:{lb.value}")',
     ["tests/test_store_writer.py"]),
    ("M9", "bucket floor-align -> end-align (toStartOfInterval)", RP,
     "return F.timestamp_seconds((epoch - epoch % interval_s))",
     "return F.timestamp_seconds((epoch - epoch % interval_s + interval_s))",
     ["tests/test_read_plan.py", "tests/test_rollup.py"]),
    ("M10", "chunk-size-line budget regression 4095 -> 4097 (Go maxLineLength)", HT,
     "_CHUNK_LINE_LIMIT = 4096 - 1",
     "_CHUNK_LINE_LIMIT = 4096 + 1",
     ["tests/test_server.py"]),
    # -- batch 2 (r13): rules the first screen did not touch --------------
    ("M11", "F8 ignore-label drop removed (read.go:123-125 emits no clause)", MA,
     "return None  # F8: routing label, never stored — emit no clause",
     "return F.array_contains(arr, label)",
     ["tests/test_matchers.py", "tests/test_matcher_properties.py"]),
    ("M12", "downsample range-clamp guard dropped (range always wins)", RP,
     "if 0 < hints.range_ms < hints.step_ms:",
     "if 0 < hints.range_ms:",
     ["tests/test_read_plan.py"]),
    ("M13", "A1 grouped max -> min", RP,
     'F.max("value").alias("max_0")',
     'F.min("value").alias("max_0")',
     ["tests/test_read_plan.py"]),
    ("M14", "O2 series assembly time-sort dropped (collect_list order luck)", RP,
     'F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("max_0").alias("v")))).alias(',
     'F.collect_list(F.struct(F.col("t"), F.col("max_0").alias("v"))).alias(',
     ["tests/test_read_plan.py", "tests/test_server.py"]),
    ("M15", "P2 arraySort(labels) dropped from the projection", RP,
     'F.array_sort("labels").alias("slb")',
     'F.col("labels").alias("slb")',
     ["tests/test_read_plan.py", "tests/test_matchers.py"]),
    ("M16", "increase reset-awareness dropped (drop contributes delta, not value)",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     '.when(dv < 0, F.col("max_0"))',
     ".when(dv < 0, dv)",
     ["tests/test_tsfuncs.py"]),
    ("M17", "32 MiB wire cap silently doubled",
     "remote_tsdb_clickhouse_spark/codec.py",
     "DECODE_READ_LIMIT = 32 * 1024 * 1024",
     "DECODE_READ_LIMIT = 64 * 1024 * 1024",
     ["tests/test_prompb.py", "tests/test_server.py"]),
    # -- batch 3 (r13): LLM-pipeline operator semantics --------------------
    ("M18", "as-of tolerance boundary inclusive -> exclusive", AS,
     'F.when(gap <= F.lit(float(tolerance_s)), F.col("__match"))',
     'F.when(gap < F.lit(float(tolerance_s)), F.col("__match"))',
     ["tests/test_asof.py"]),
    ("M19", "exact-dedup keeper min(doc_id) -> max (nondeterministic claim)",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     '.agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))',
     '.agg(F.max("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))',
     ["tests/test_dedup_similarity.py"]),
    ("M20", "decontamination shingle width 13 -> 12",
     "remote_tsdb_clickhouse_spark/operators/decontaminate.py",
     "n: int = 13,",
     "n: int = 12,",
     ["tests/test_textfuncs.py"]),
    ("M21", "AllPairs prefix bound off-by-one (drops qualifying pairs)",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     '<= F.col("n_sh") - _ceil_threshold_times(F.col("n_sh"), threshold) + 1',
     '<= F.col("n_sh") - _ceil_threshold_times(F.col("n_sh"), threshold)',
     ["tests/test_dedup_similarity.py"]),
    # -- batch 4 (r13): wire codecs, routing, streaming, vector ops --------
    ("M22", "protobuf varint decode little-endian -> big-endian groups",
     "remote_tsdb_clickhouse_spark/prompb.py",
     "        result |= (b & 0x7F) << shift",
     "        result = (result << 7) | (b & 0x7F)",
     ["tests/test_prompb.py", "tests/test_prompb_fuzz.py"]),
    ("M23", "snappy header uvarint little-endian -> big-endian groups",
     "remote_tsdb_clickhouse_spark/codec.py",
     "        result |= (b & 0x7F) << shift",
     "        result = (result << 7) | (b & 0x7F)",
     ["tests/test_prompb.py", "tests/test_server.py"]),
    ("M24", "rollup routing serves non-divisible intervals",
     "remote_tsdb_clickhouse_spark/sources/rollup.py",
     "fits = [r for r in self.resolutions() if d % r == 0 and r <= d]",
     "fits = [r for r in self.resolutions() if r <= d]",
     ["tests/test_rollup.py"]),
    ("M25", "streaming sessionization session-window -> tumbling window",
     "remote_tsdb_clickhouse_spark/streaming/ingest.py",
     'F.session_window("ts", gap).alias("w"),',
     'F.window("ts", gap).alias("w"),',
     ["tests/test_streaming.py"]),
    ("M26", "sign-bucket boundary x>=0 -> x>0 (zero dims flip orthant)",
     "remote_tsdb_clickhouse_spark/functions/vecfuncs.py",
     "lambda x, i: F.when(x >= 0, F.pow(F.lit(2.0), i.cast(\"double\")).cast(\"long\")).otherwise(",
     "lambda x, i: F.when(x > 0, F.pow(F.lit(2.0), i.cast(\"double\")).cast(\"long\")).otherwise(",
     ["tests/test_vecfuncs.py"]),
    ("M27", "int64 two's-complement read dropped (negative fields go unsigned)",
     "remote_tsdb_clickhouse_spark/prompb.py",
     "return v - (1 << 64) if v >= (1 << 63) else v",
     "return v",
     ["tests/test_prompb.py", "tests/test_prompb_fuzz.py"]),
    # -- batch 5 (r13): similarity/mixing/scrub/multimodal -----------------
    ("M28", "PNG Paeth tie-break order flipped (spec: a, then b, then c)",
     "remote_tsdb_clickhouse_spark/operators/multimodal.py",
     "pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)",
     "pred = a if (pa < pb and pa < pc) else (b if pb <= pc else c)",
     ["tests/test_multimodal.py"]),
    ("M29", "water-filling bound max-fill -> off-by-source (min dropped)",
     "remote_tsdb_clickhouse_spark/operators/mixing.py",
     '"n_star", F.min(F.expr("(n_docs * bigw) div w")).over(everything)',
     '"n_star", F.max(F.expr("(n_docs * bigw) div w")).over(everything)',
     ["tests/test_mixing_quantize.py"]),
    ("M30", "ANN rank tie-break on neighbor_id dropped (nondeterministic top-k)",
     "remote_tsdb_clickhouse_spark/operators/similarity.py",
     'F.col("adc").asc(), F.col("neighbor_id").asc()',
     'F.col("adc").asc()',
     ["tests/test_dedup_similarity.py"]),
    ("M31", "k-means assignment argmin first-min -> last-min on ties",
     "remote_tsdb_clickhouse_spark/operators/similarity.py",
     "pos = dist.argmin(axis=1)  # first min -> lowest cid on ties",
     "pos = dist.shape[1] - 1 - dist[:, ::-1].argmin(axis=1)",
     ["tests/test_dedup_similarity.py"]),
    ("M32", "email PII pattern loses the TLD requirement",
     "remote_tsdb_clickhouse_spark/operators/scrub.py",
     'EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"',
     'EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"',
     ["tests/test_scrub.py"]),
    # -- batch 6 (r13): streaming state, layout, store maintenance, codecs -
    ("M33", "stateful rate duplicate-timestamp guard <= -> < (dt=0 divide)",
     "remote_tsdb_clickhouse_spark/streaming/ingest.py",
     "if last_t is not None and t <= last_t:",
     "if last_t is not None and t < last_t:",
     ["tests/test_streaming.py"]),
    ("M34", "stateful rate counter-reset NULL dropped",
     "remote_tsdb_clickhouse_spark/streaming/ingest.py",
     "out_r.append(None if v < last_v else (v - last_v) / (t - last_t))",
     "out_r.append((v - last_v) / (t - last_t))",
     ["tests/test_streaming.py"]),
    ("M35", "skew salt collapses to a single sub-key (spread contract)",
     "remote_tsdb_clickhouse_spark/operators/layout.py",
     "    spread_expr = F.pmod(",
     "    spread_expr = F.lit(0); _unused = (",
     ["tests/test_layout.py"]),
    ("M36", "TSV export separator tab -> comma",
     "remote_tsdb_clickhouse_spark/sources/samples_store.py",
     '            sep="\\t",',
     '            sep=",",',
     ["tests/test_store_writer.py"]),
    ("M37", "range-delete lower bound exclusive -> inclusive (S8)",
     "remote_tsdb_clickhouse_spark/sources/samples_store.py",
     'cond = (F.col("ts") > F.lit(start_exclusive)) & (F.col("ts") <= F.lit(end_inclusive))',
     'cond = (F.col("ts") >= F.lit(start_exclusive)) & (F.col("ts") <= F.lit(end_inclusive))',
     ["tests/test_store_writer.py"]),
    ("M38", "GIF LZW code-width growth boundary off-by-one",
     "remote_tsdb_clickhouse_spark/operators/multimodal.py",
     "if len(table) == (1 << code_size) and code_size < 12:",
     "if len(table) == (1 << code_size) - 1 and code_size < 12:",
     ["tests/test_multimodal.py"]),
    # -- batch 7 (r13): response assembly, graph convergence, metrics ------
    ("M39", "P3 __name__ prepend dropped from response labels (read.go:84-89)",
     "remote_tsdb_clickhouse_spark/server/service.py",
     'labels = [prompb.Label(NAME_LABEL, row["metric_name"])]',
     "labels = []",
     ["tests/test_server.py"]),
    ("M40", "P3 label split first-'=' -> last-'=' (values containing '=')",
     "remote_tsdb_clickhouse_spark/server/service.py",
     'name, _, value = joined.partition("=")  # first \'=\' is structural',
     'name, _, value = joined.rpartition("=")',
     ["tests/test_server.py"]),
    ("M41", "SimHash pigeonhole loses a block (radius-3 completeness broken)",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     "                    for k in range(4)",
     "                    for k in range(3)",
     ["tests/test_dedup_similarity.py"]),
    ("M42", "connected components stops after one propagation round",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     "            if new_sum == prev_sum:",
     "            if True:",
     ["tests/test_asof.py"]),
    ("M43", "self-metrics counter increment becomes a no-op",
     "remote_tsdb_clickhouse_spark/server/metrics.py",
     "            self._value += n",
     "            self._value += 0 * n",
     ["tests/test_server.py"]),
    # -- batch 8 (r13): PromQL-analog math and chunking geometry -----------
    ("M44", "type-1 quantile index floor((n-1)q) -> floor(n*q)",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     'idx0 = F.floor((n - 1).cast("double") * F.lit(q)).cast("int")',
     'idx0 = F.floor(n.cast("double") * F.lit(q)).cast("int")',
     ["tests/test_tsfuncs.py"]),
    ("M45", "predict_linear loses the t-bar centering",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     '+ slope * (F.lit(float(tp_units)) - F.col("st").cast("double") / n_d),',
     '+ slope * F.lit(float(tp_units)),',
     ["tests/test_tsfuncs.py"]),
    ("M46", "histogram_quantile first-bucket lower bound 0 -> bounds[0]",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     "lo = 0 if i == 0 else bounds[i - 1]",
     "lo = bounds[0] if i == 0 else bounds[i - 1]",
     ["tests/test_tsfuncs.py"]),
    ("M47", "histogram_quantile +Inf-bucket rule returns NULL",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     'result = F.lit(bounds[-1] * 1_000_000).cast("long")  # +Inf bucket rule',
     'result = F.lit(None).cast("long")',
     ["tests/test_tsfuncs.py"]),
    ("M48", "chunk stride ignores the overlap",
     "remote_tsdb_clickhouse_spark/operators/scrub.py",
     "    stride = window - overlap",
     "    stride = window",
     ["tests/test_scrub.py"]),
    ("M49", "chunk-count ceil overshoots on exact multiples",
     "remote_tsdb_clickhouse_spark/operators/scrub.py",
     "+ (F.greatest(n_tok - window, F.lit(0)) + (stride - 1)) / F.lit(stride)",
     "+ (F.greatest(n_tok - window, F.lit(0)) + stride) / F.lit(stride)",
     ["tests/test_scrub.py"]),
    # -- batch 9 (r13): the ClickHouse SQL leg, dialect rewrite, bloom -----
    ("M50", "ClickHouse-leg ms->s division loses Go trunc parity",
     "remote_tsdb_clickhouse_spark/sources/clickhouse.py",
     'clauses = [f"t >= {trunc_ms_to_s(q.start_ms)}"]',
     'clauses = [f"t >= {q.start_ms // 1000}"]',
     # the both-legs negative-bound test lives in test_read_plan.py (the
     # sink file covers DDL/writer, not the emitted WHERE)
     ["tests/test_read_plan.py"]),
    ("M51", "named-group dialect rewrite ignores backslash parity",
     "remote_tsdb_clickhouse_spark/plans/matchers.py",
     'lambda m: m.group(0) if len(m.group(1)) % 2 else m.group(1) + "(?<",',
     'lambda m: m.group(1) + "(?<",',
     ["tests/test_matchers.py"]),
    ("M52", "bloom membership requires k-1 of k distinct bits",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     '(F.col("n_hit") == F.col("n_bits")).alias("maybe_member"),',
     '(F.col("n_hit") >= F.col("n_bits") - 1).alias("maybe_member"),',
     ["tests/test_dedup_similarity.py"]),
    # -- batch 10 (r15): clauses the first nine batches left unpinned ------
    ("M53", "X1 rate keeps each series' first sample (no-predecessor row)",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     'with_lags.where(F.col("_pv").isNotNull())',
     "with_lags",
     ["tests/test_tsfuncs.py"]),
    ("M54", "stddev_over_time population variance -> sample (n-1)",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     "var = (qq - s * s / nn) / nn",
     "var = (qq - s * s / nn) / (nn - 1.0)",
     ["tests/test_tsfuncs.py"]),
    ("M55", "resets counts flat adjacent pairs as counter resets",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     '(F.col("max_0") < pv).cast("long").alias("_reset"),',
     '(F.col("max_0") <= pv).cast("long").alias("_reset"),',
     ["tests/test_tsfuncs.py"]),
    ("M56", "F11 label NRE vacuous match on missing label removed", MA,
     'return ~F.exists(arr, lambda x: x.rlike(pat))  # F11: vacuous-∀ on missing',
     'return ~F.exists(arr, lambda x: x.rlike(pat)) & F.exists(arr, lambda x: x.startswith(f"{m.name}="))',
     ["tests/test_matchers.py", "tests/test_matcher_properties.py"]),
    ("M57", "as-of forward tie inclusivity flipped (right row at equal ts lost)", AS,
     '.orderBy(F.col("__t").asc(), F.col("__is_right").asc())',
     '.orderBy(F.col("__t").asc(), F.col("__is_right").desc())',
     ["tests/test_asof.py"]),
    ("M58", "LSH candidate pairing admits self-pairs (jaccard 1.0 rows)",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     '.where(F.col("x.doc_id") < F.col("y.doc_id"))\n        '
     '.select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))\n'
     "        .distinct()",
     '.where(F.col("x.doc_id") <= F.col("y.doc_id"))\n        '
     '.select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))\n'
     "        .distinct()",
     ["tests/test_dedup_similarity.py"]),
    ("M59", "containment direction lost (inner count over OUTER size)",
     "remote_tsdb_clickhouse_spark/operators/dedup.py",
     '(F.col("inter").cast("double") / F.col("la")).alias("containment"),',
     '(F.col("inter").cast("double") / F.col("lb")).alias("containment"),',
     ["tests/test_dedup_similarity.py"]),
    ("M60", "streaming dedup keeper restarts per micro-batch (first-wins lost)",
     "remote_tsdb_clickhouse_spark/streaming/ingest.py",
     '"is_first": [n + i == 0 for i in range(len(ids))],',
     '"is_first": [i == 0 for i in range(len(ids))],',
     ["tests/test_streaming.py"]),
    ("M61", "min-shingle fingerprint takes the MAX hash (winnowing broken)",
     "remote_tsdb_clickhouse_spark/functions/textfuncs.py",
     "F.array_min(F.transform(shingles, hash32)),",
     "F.array_max(F.transform(shingles, hash32)),",
     ["tests/test_textfuncs.py"]),
    # -- batch 11 (r15): mixing / quantization / ANN knobs / text scoring --
    ("M62", "int8 quantization range +1 dropped (max element overflows to code k)",
     "remote_tsdb_clickhouse_spark/operators/similarity.py",
     'f"((vi - mn_micro) * {int(codes)}) div (mx_micro - mn_micro + 1)"',
     'f"((vi - mn_micro) * {int(codes)}) div (mx_micro - mn_micro)"',
     ["tests/test_mixing_quantize.py"]),
    ("M63", "multi-probe flip set skips the nearest hyperplane",
     "remote_tsdb_clickhouse_spark/operators/similarity.py",
     "F.slice(entries, 1, nprobe - 1),",
     "F.slice(entries, 2, nprobe - 1),",
     ["tests/test_dedup_similarity.py"]),
    ("M64", "mixture take boundary <= -> < (last selected doc per source lost)",
     "remote_tsdb_clickhouse_spark/operators/mixing.py",
     '.where(F.col("__rk") <= F.col("n_take"))',
     '.where(F.col("__rk") < F.col("n_take"))',
     ["tests/test_mixing_quantize.py"]),
    ("M65", "water-filling proportional take floor -> ceil (mixture overshoots)",
     "remote_tsdb_clickhouse_spark/operators/mixing.py",
     'F.expr("(w * n_star) div bigw").alias("n_take"),',
     'F.expr("(w * n_star + bigw - 1) div bigw").alias("n_take"),',
     ["tests/test_mixing_quantize.py"]),
    ("M66", "langid_frame tie order en > de dropped (ties fall through)",
     "remote_tsdb_clickhouse_spark/functions/textfuncs.py",
     'F.when(F.col("__na") > 0.3, F.lit("zh"))\n'
     '        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))',
     'F.when(F.col("__na") > 0.3, F.lit("zh"))\n'
     '        .when((en > de) & (en > fr) & (en > es), F.lit("en"))',
     ["tests/test_textfuncs.py"]),
    ("M67", "quality score length/noise weights swapped (0.3/0.2 -> 0.2/0.3)",
     "remote_tsdb_clickhouse_spark/functions/textfuncs.py",
     "F.lit(0.5) * stopword_ratio + F.lit(0.3) * length_prior + F.lit(0.2) * (1.0 - punct)",
     "F.lit(0.5) * stopword_ratio + F.lit(0.2) * length_prior + F.lit(0.3) * (1.0 - punct)",
     ["tests/test_textfuncs.py"]),
    # -- batch 12 (r15): partition pruning bounds, OPQ interleave, le bound -
    ("M68", "S6 partition pruning start >= -> > (start-day partitions lost)", RP,
     "cond = F.col(PARTITION_COLUMN) >= F.to_date(",
     "cond = F.col(PARTITION_COLUMN) > F.to_date(",
     ["tests/test_store_writer.py"]),
    ("M69", "S6 partition pruning end <= -> < (end-instant day pruned, breaks F2)", RP,
     "<= F.to_date(F.timestamp_seconds(F.lit(trunc_ms_to_s(q.end_ms))))",
     "< F.to_date(F.timestamp_seconds(F.lit(trunc_ms_to_s(q.end_ms))))",
     ["tests/test_store_writer.py"]),
    ("M70", "OPQ-lite interleave degenerates to the identity permutation",
     "remote_tsdb_clickhouse_spark/operators/similarity.py",
     "perm = [(i % sub) * m + i // sub for i in range(d)]",
     "perm = list(range(d))",
     ["tests/test_dedup_similarity.py"]),
    ("M71", "histogram le bound inclusive -> exclusive (boundary samples fall out)",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     'F.count(F.when(F.col("max_0") <= F.lit(b), 1)).alias(f"cum_{i}")',
     'F.count(F.when(F.col("max_0") < F.lit(b), 1)).alias(f"cum_{i}")',
     ["tests/test_tsfuncs.py"]),
    # -- batch 13 (r15): the events->samples adapter feeding every tsdb row -
    ("M72", "events adapter drops the to-the-second timestamp truncation",
     "remote_tsdb_clickhouse_spark/sources/events.py",
     'F.date_trunc("second", "ts").alias("ts"),',
     'F.col("ts").alias("ts"),',
     ["tests/test_events_adapter.py"]),
    ("M73", "events adapter tier rule shifts to user_id % 3 == 1",
     "remote_tsdb_clickhouse_spark/sources/events.py",
     'F.when(F.col("user_id") % 3 == 0, F.array(F.lit("tier=gold")))',
     'F.when(F.col("user_id") % 3 == 1, F.array(F.lit("tier=gold")))',
     ["tests/test_events_adapter.py"]),
    ("M74", "events adapter label array left unsorted (P2 analog)",
     "remote_tsdb_clickhouse_spark/sources/events.py",
     "F.array_sort(F.concat(base, extra)).alias(\"labels\"),",
     "F.concat(extra, base).alias(\"labels\"),",
     ["tests/test_events_adapter.py"]),
    # -- batch 14 (r15): PII redaction order + the phone test-prefix guard --
    ("M75", "PII redaction order swapped (IP before email)",
     "remote_tsdb_clickhouse_spark/operators/scrub.py",
     'REDACTIONS = (\n    (EMAIL_PATTERN, "<EMAIL>"),\n    (IPV4_PATTERN, "<IP>"),',
     'REDACTIONS = (\n    (IPV4_PATTERN, "<IP>"),\n    (EMAIL_PATTERN, "<EMAIL>"),',
     ["tests/test_scrub.py"]),
    ("M76", "phone pattern loses the 555 test-prefix guard (over-scrubs)",
     "remote_tsdb_clickhouse_spark/operators/scrub.py",
     'PHONE_PATTERN = r"555-[0-9]{4}"',
     'PHONE_PATTERN = r"[0-9]{3}-[0-9]{4}"',
     ["tests/test_scrub.py"]),
    # -- batch 15 (r16): entry-level boundary clauses, previously pinned
    # only through the oracles (which need corpus luck to land ON a
    # boundary) — direct planted-fixture killers in test_entry_clauses.py
    ("M77", "sessionize gap boundary > 1800 -> >= (exact-1800 gap splits)",
     "__spark_entry__.py",
     "F.when(gap.isNull() | (gap > 1800.0), 1)",
     "F.when(gap.isNull() | (gap >= 1800.0), 1)",
     ["tests/test_entry_clauses.py"]),
    ("M78", "funnel click-at-signup-instant excluded (>= t_signup -> >)",
     "__spark_entry__.py",
     '(F.col("ts") >= F.col("t_signup"))',
     '(F.col("ts") > F.col("t_signup"))',
     ["tests/test_entry_clauses.py"]),
    ("M79", "funnel 24h stage window inclusive -> exclusive (<= day -> <)",
     "__spark_entry__.py",
     '& (F.col("ts").cast("double") - F.col("t_signup").cast("double") <= day)',
     '& (F.col("ts").cast("double") - F.col("t_signup").cast("double") < day)',
     ["tests/test_entry_clauses.py"]),
    ("M80", "split train boundary h < 80 -> <= (bucket 80 leaks into train)",
     "__spark_entry__.py",
     'F.when(h < 80, F.lit("train"))',
     'F.when(h <= 80, F.lit("train"))',
     ["tests/test_entry_clauses.py"]),
    ("M81", "basket support floor >= 2 -> > 2 (support-2 pairs lost)",
     "__spark_entry__.py",
     '.where(F.col("support") >= 2)',
     '.where(F.col("support") > 2)',
     ["tests/test_entry_clauses.py"]),
    ("M82", "basket pair slice from i+2 -> i+1 (self-pairs, M58 analog)",
     "__spark_entry__.py",
     "F.slice(F.col(\"parts\"), i + F.lit(2), F.size(F.col(\"parts\")))",
     "F.slice(F.col(\"parts\"), i + F.lit(1), F.size(F.col(\"parts\")))",
     ["tests/test_entry_clauses.py"]),
    ("M83", "Matryoshka prefix shifts off the leading dim (slice 1 -> 2)",
     "__spark_entry__.py",
     'emb = _embs(spark, sf_dir).withColumn("embedding", F.slice("embedding", 1, 16))',
     'emb = _embs(spark, sf_dir).withColumn("embedding", F.slice("embedding", 2, 16))',
     ["tests/test_entry_clauses.py"]),
    ("M84", "label_replace loses the Prometheus full anchoring",
     "remote_tsdb_clickhouse_spark/functions/tsfuncs.py",
     'anchored = f"^(?:{pattern})$"',
     'anchored = f"(?:{pattern})"',
     ["tests/test_tsfuncs.py"]),
    ("M85", "S8 range-delete upper bound inclusive -> exclusive",
     "remote_tsdb_clickhouse_spark/sources/samples_store.py",
     'cond = (F.col("ts") > F.lit(start_exclusive)) & (F.col("ts") <= F.lit(end_inclusive))',
     'cond = (F.col("ts") > F.lit(start_exclusive)) & (F.col("ts") < F.lit(end_inclusive))',
     ["tests/test_store_writer.py"]),
    ("M86", "stale-series cut < end-24h -> <= (boundary series goes stale)",
     "__spark_entry__.py",
     '.where(F.col("last_t") < F.lit(end_s - 86400))',
     '.where(F.col("last_t") <= F.lit(end_s - 86400))',
     ["tests/test_entry_clauses.py"]),
    # -- batch 16 (r16): arithmetic / frame / tie-break clauses ------------
    ("M87", "packing bin from post-doc cumulative (boundary doc jumps bins)",
     "__spark_entry__.py",
     'F.floor((cum - F.col("n_tokens")) / F.lit(4096.0))',
     "F.floor(cum / F.lit(4096.0))",
     ["tests/test_entry_clauses.py"]),
    ("M88", "moving-avg frame widens to six rows (rowsBetween -4 -> -5)",
     "__spark_entry__.py",
     ".rowsBetween(-4, 0)",
     ".rowsBetween(-5, 0)",
     ["tests/test_entry_clauses.py"]),
    ("M89", "quality gate flags exactly-20-token docs (< 20 -> <= 20)",
     "__spark_entry__.py",
     "F.when(n_tok < 20, F.lit(1))",
     "F.when(n_tok <= 20, F.lit(1))",
     ["tests/test_entry_clauses.py"]),
    ("M90", "quality gate flags exactly-512-token docs (> 512 -> >= 512)",
     "__spark_entry__.py",
     "F.when(n_tok > 512, F.lit(2))",
     "F.when(n_tok >= 512, F.lit(2))",
     ["tests/test_entry_clauses.py"]),
    ("M91", "tf-idf tie-break df asc -> desc (common term outranks rare)",
     "__spark_entry__.py",
     'F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()',
     'F.col("tf").desc(), F.col("df").desc(), F.col("term").asc()',
     ["tests/test_entry_clauses.py"]),
    ("M92", "vocab rank tie-break term asc dropped (desc on count ties)",
     "__spark_entry__.py",
     'w = Window.orderBy(F.col("cnt").desc(), F.col("term"))',
     'w = Window.orderBy(F.col("cnt").desc(), F.col("term").desc())',
     ["tests/test_entry_clauses.py"]),
    ("M93", "interleave position blocks by source (rnk*n+idx -> rnk+n*idx)",
     "__spark_entry__.py",
     '(F.col("rnk") * n_src + F.col("src_idx"))',
     '(F.col("rnk") + n_src * F.col("src_idx"))',
     ["tests/test_entry_clauses.py"]),
    ("M94", "sliding-hour RANGE frame admits the exactly-3600s-old sample",
     "__spark_entry__.py",
     ".rangeBetween(-3599, 0)",
     ".rangeBetween(-3600, 0)",
     ["tests/test_entry_clauses.py"]),
    # -- batch 17 (r16): floor-vs-trunc, set direction, null-drop, ties ----
    ("M95", "topk_series tie-break labelset asc dropped (M30 analog)",
     "__spark_entry__.py",
     '.orderBy(F.col("avg_v").desc(), F.col("labels_str"))',
     '.orderBy(F.col("avg_v").desc(), F.col("labels_str").desc())',
     ["tests/test_entry_clauses.py"]),
    ("M96", "value-histogram bucket floor -> toward-zero cast (negatives)",
     "__spark_entry__.py",
     'F.floor(F.col("value") / 10.0).cast("long").alias("bucket")',
     '(F.col("value") / 10.0).cast("long").alias("bucket")',
     ["tests/test_entry_clauses.py"]),
    ("M97", "max_gap keeps single-sample series as null-gap rows",
     "__spark_entry__.py",
     '.where(F.col("max_gap_s").isNotNull())',
     '.where(F.lit(True))',
     ["tests/test_entry_clauses.py"]),
    ("M98", "customers_lapsed set difference direction flipped",
     "__spark_entry__.py",
     "return year_keys(1996).subtract(year_keys(1997))",
     "return year_keys(1997).subtract(year_keys(1996))",
     ["tests/test_entry_clauses.py"]),
    ("M99", "count_values key floor -> toward-zero cast (negative gauges)",
     "__spark_entry__.py",
     'floored = grouped.withColumn("max_0", F.floor(F.col("max_0")).cast("long"))',
     'floored = grouped.withColumn("max_0", F.col("max_0").cast("long"))',
     ["tests/test_entry_clauses.py"]),
    ("M100", "centroid micro-quantize floor -> toward-zero cast",
     "__spark_entry__.py",
     'q = F.floor(F.col("v").cast("double") * 1000000.0).cast("long")',
     'q = (F.col("v").cast("double") * 1000000.0).cast("long")',
     ["tests/test_entry_clauses.py"]),
    ("M101", "funnel purchase-stage 24h window inclusive -> exclusive",
     "__spark_entry__.py",
     '& (F.col("ts").cast("double") - F.col("t_click").cast("double") <= day)',
     '& (F.col("ts").cast("double") - F.col("t_click").cast("double") < day)',
     ["tests/test_entry_clauses.py"]),
    # -- batch 18 (r16): langid threshold, day-over-day shift, sample cut --
    ("M102", "langid zh cutover fires AT 30% non-ascii (> 0.3 -> >=)",
     "remote_tsdb_clickhouse_spark/functions/textfuncs.py",
     'F.when(F.col("__na") > 0.3, F.lit("zh"))',
     'F.when(F.col("__na") >= 0.3, F.lit("zh"))',
     ["tests/test_textfuncs.py"]),
    ("M103", "offset_ratio joins tomorrow instead of yesterday (+86400 -> -)",
     "__spark_entry__.py",
     '(F.col("bucket_t") + 86400).alias("bucket_t")',
     '(F.col("bucket_t") - 86400).alias("bucket_t")',
     ["tests/test_entry_clauses.py"]),
    ("M104", "sample membership h < 10 -> <= (bucket 10 leaks in)",
     "__spark_entry__.py",
     'F.sum(F.when(F.col("hv") < 10, 1).otherwise(0))',
     'F.sum(F.when(F.col("hv") <= 10, 1).otherwise(0))',
     ["tests/test_entry_clauses.py"]),
    # -- batch 19: physical layout of the samples store --------------------
    ("M105", "store write sort loses its ts_date prefix (planned write drops the sort)",
     "remote_tsdb_clickhouse_spark/sources/samples_store.py",
     'keys = (PARTITION_COLUMN, "metric_name", "labels", "ts")',
     'keys = ("metric_name", "labels", "ts")',
     ["tests/test_store_writer.py"]),
]


class GitStateUnreadable(RuntimeError):
    """ADVICE r18 item 1: the dirty-tree guard could not read git state in
    what looks like a real checkout (``.git`` exists).  The r16–r18 shape
    degraded to warn-and-proceed here, which left the M60-class
    snapshot-attribution risk window open on exactly the path the guard
    exists to close — a transient git failure must make the screen REFUSE
    instead.  The hermetic tool tests (a bare tmp_path with no ``.git``)
    remain the only proceed-on-unreadable case."""


def _dirty_target_files(paths: list[str]) -> list[str]:
    """Return the subset of ``paths`` with uncommitted changes vs HEAD,
    INCLUDING untracked (never-committed) target files.

    VERDICT r15 "what's wrong": the driver's turn-budget snapshot commit
    fired while the screen held mutant M60 applied, committing a live
    semantic bug into ``streaming/ingest.py``.  The screen cannot stop an
    external ``git commit -A`` mid-run, but it CAN refuse to add mutations
    on top of an already-dirty target file — that is the state in which a
    snapshot becomes unattributable (was the diff the builder's edit or
    the screen's mutation?).  ADVICE r16 item 2: ``git diff HEAD`` only
    reports MODIFIED tracked files, so an untracked target (a new rule
    pointing at a file never committed) used to pass the guard even
    though a mid-run snapshot commit of it is equally unattributable —
    ``git ls-files --others`` now catches that leg.  Raises
    ``GitStateUnreadable`` (ADVICE r18 item 1: the caller refuses, exit
    2) when any leg cannot be read while ``.git`` exists; proceeds
    silently only for the hermetic tool tests' bare tmp_path fake.
    """
    if not paths:
        # VERDICT r17 "what's wrong": with NO pathspec, the ls-files leg
        # lists every untracked file in the whole tree, so an empty
        # selection (no mutants routed here) produced a spurious refusal
        # naming files that were never mutation targets.  Nothing to
        # mutate means nothing to attribute — no git call at all.
        return []
    dirty: set[str] = set()
    failed: list[str] = []
    for argv in (
        ["git", "diff", "--name-only", "HEAD", "--", *paths],
        ["git", "ls-files", "--others", "--exclude-standard", "--", *paths],
    ):
        try:
            r = subprocess.run(
                argv, cwd=REPO, capture_output=True, text=True, timeout=60)
        except (OSError, subprocess.TimeoutExpired) as exc:
            failed.append(f"{argv[1]}: {type(exc).__name__}")
            continue
        if r.returncode != 0:
            # not a git repo, or no HEAD yet (fresh init): this LEG
            # cannot be read, but the other leg may still attribute —
            # ADVICE r17 item 2: a diff-HEAD failure in a just-initialised
            # repo must not disable the ls-files leg, which alone would
            # flag every existing target as untracked/unattributable.
            failed.append(f"{argv[1]}: rc={r.returncode}")
            continue
        dirty.update(ln.strip() for ln in r.stdout.splitlines() if ln.strip())
    if dirty:
        # ADVICE r17 item 1: a later-leg failure must not discard an
        # already-confirmed refusal condition — refuse on what was read.
        return sorted(dirty)
    if failed and os.path.exists(os.path.join(REPO, ".git")):
        # ADVICE r18 item 1: in a real checkout, ANY unreadable leg means
        # the guard cannot certify the targets clean — refuse rather than
        # warn-and-proceed (the r16–r18 behavior).  One leg reading clean
        # is not enough: the legs cover disjoint dirty classes
        # (modified-tracked vs untracked), so a clean diff-HEAD says
        # nothing about untracked targets and vice versa.
        detail = "; ".join(failed)
        if len(failed) == 1:
            detail += " (other leg read clean)"
        raise GitStateUnreadable(detail)
    # no ``.git`` at all: the hermetic tool-test fake — nothing to
    # attribute snapshots against, proceed silently
    return []


def main(argv: list[str] | None = None) -> int:
    # VERDICT r17 "what's wrong": the old ``set(sys.argv[1:])`` treated
    # ANY token (``--help``, a typo'd ID) as a mutant-ID filter, selected
    # zero mutants, and the empty selection produced a spurious
    # whole-tree refusal.  argparse (the tools/targeted_probe.py pattern)
    # makes ``--help`` print usage, and unknown IDs are rejected loudly
    # instead of silently selecting nothing.
    parser = argparse.ArgumentParser(
        description="Apply each registered mutant (one flipped semantic "
                    "clause), run its killer test files, and require a "
                    "failure: KILLED/SURVIVED/INVALID/TIMEOUT per mutant, "
                    "exit 0 iff all KILLED.")
    parser.add_argument(
        "ids", nargs="*", metavar="MUTANT_ID",
        help="run only these mutant IDs (e.g. M13 M104); default: all")
    ns = parser.parse_args(argv)
    known = {m[0] for m in MUTANTS}
    unknown = sorted(set(ns.ids) - known)
    if unknown:
        # ADVICE r18 item 3: errors go to stderr, not stdout
        print(f"ERROR: unknown mutant ID(s) {unknown} — known IDs are "
              f"{sorted(known, key=lambda i: (len(i), i))[:5]} ... "
              f"({len(known)} registered); nothing run.", file=sys.stderr)
        return 2
    only = set(ns.ids)
    selected = [m for m in MUTANTS if not only or m[0] in only]

    # Dirty-tree refusal (VERDICT r15 task 2): never mutate a target file
    # that already carries uncommitted changes — a snapshot commit landing
    # mid-screen would capture EITHER the builder's work-in-progress OR a
    # live mutant, and nobody could tell which.  (Habit note, same task:
    # do not start a screen pass in the last ~30 min of a session's
    # budget — the driver's end-of-round snapshot commits whatever state
    # the tree is in, and the per-mutant pytest subprocess is an exposure
    # window no in-process guard can close.)
    try:
        dirty = _dirty_target_files(sorted({m[2] for m in selected}))
    except GitStateUnreadable as exc:
        # ADVICE r18 item 1: a real checkout whose git state cannot be
        # read gets a refusal, not a warn-and-proceed — retry when git
        # works.  (stderr, like the unknown-ID rejection: it is an error.)
        print("REFUSING to run: .git exists but git state could not be "
              f"read ({exc}) — the dirty-tree guard cannot certify the "
              "mutation targets clean, so a mid-run snapshot would be "
              "unattributable (see VERDICT r15 / mutant M60).",
              file=sys.stderr)
        return 2
    if dirty:
        print("REFUSING to run: uncommitted changes in mutation target "
              f"file(s) {dirty} — commit or stash first (a snapshot commit "
              "landing mid-screen committed mutant M60 in r15; see "
              "VERDICT r15).")
        return 2

    # Clean-tree baseline (ADVICE r13): a killer file that already fails
    # unmutated would make every mutant routed to it report KILLED
    # spuriously.  Run the union of all killer files once on the pristine
    # tree; if any fail, mark the affected mutants INVALID instead of
    # letting them masquerade as killed.
    killer_union = sorted({k for *_rest, killers in selected for k in killers})
    broken_killers: set[str] = set()
    if killer_union:
        print(f"baseline: pytest over {len(killer_union)} killer file(s) "
              "on the pristine tree...", flush=True)
        try:
            base = subprocess.run(
                [sys.executable, "-m", "pytest", "-q", *killer_union],
                cwd=REPO, capture_output=True, text=True, timeout=3600)
        except subprocess.TimeoutExpired:
            print("baseline TIMEOUT — aborting (cannot attribute failures)")
            return 2
        if base.returncode != 0:
            # attribute the baseline failure to files, not the whole run:
            # pytest -q failure lines lead with the test file path
            for line in base.stdout.splitlines():
                if line.startswith("FAILED ") or line.startswith("ERROR "):
                    broken_killers.add(
                        line.split(None, 1)[1].split("::", 1)[0])
            if not broken_killers:
                # non-zero rc with no parseable failures (collection error,
                # crash): every routed mutant is unattributable
                broken_killers = set(killer_union)
            print(f"baseline RED in: {sorted(broken_killers)} — mutants "
                  "routed there will be INVALID", flush=True)

    results: list[tuple[str, str, str]] = []
    for mid, desc, path, old, new, killers in selected:
        if broken_killers & set(killers):
            results.append((mid, desc, "INVALID (killer red unmutated)"))
            print(f"{mid} {desc}: {results[-1][2]}", flush=True)
            continue
        full = os.path.join(REPO, path)
        with open(full) as fh:
            src = fh.read()
        if src.count(old) != 1:
            results.append((mid, desc, f"SITE-ERROR (count={src.count(old)})"))
            print(f"{mid} {desc}: {results[-1][2]}", flush=True)
            continue
        try:
            with open(full, "w") as fh:
                fh.write(src.replace(old, new))
            try:
                r = subprocess.run(
                    [sys.executable, "-m", "pytest", "-x", "-q", *killers],
                    cwd=REPO, capture_output=True, text=True, timeout=1800)
                verdict = "KILLED" if r.returncode != 0 else "SURVIVED"
            except subprocess.TimeoutExpired:
                # ADVICE r13: record and continue so the summary still
                # covers every mutant (the finally restores the source)
                verdict = "TIMEOUT"
        finally:
            with open(full, "w") as fh:
                fh.write(src)
        results.append((mid, desc, verdict))
        print(f"{mid} {desc}: {verdict}", flush=True)

    print("\n== summary ==")
    for mid, desc, v in results:
        print(f"{v:10s} {mid} {desc}")
    return 0 if results and all(v == "KILLED" for _, _, v in results) else 1


if __name__ == "__main__":
    sys.exit(main())
