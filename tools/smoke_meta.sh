#!/bin/sh
# Sub-minute meta-test smoke — run before EVERY commit (VERDICT r10 #1:
# the round-10 HEAD shipped red because the final commits skipped the
# full suite; these gates collect in seconds and catch exactly that
# class — an uncited registered query, a stale CORRECTNESS_local.json
# registry hash, a drifted plan pin, a broken bench contract, a new knob,
# staging that no longer picks its level from the checkpoint directory,
# a spread() that no longer sizes its target from the input's rows, a
# pair join that stops reading spark.pulsar.pairs.partitions, a plan
# normalizer whose hash follows the temp dir's length).
#
# Usage: sh tools/smoke_meta.sh      (~60 s, one local Spark session)
set -e
cd "$(dirname "$0")/.."
exec python -m pytest -q \
  tests/test_queries_vs_oracle.py::test_every_query_documents_its_lineage \
  tests/test_queries_vs_oracle.py::test_every_query_has_entry \
  tests/test_conf_surface.py \
  tests/test_operators.py::test_stage_level_knob \
  tests/test_operators.py::test_reliable_staging_mode \
  tests/test_functions_and_io.py::test_spread_passes_streaming_df_through \
  tests/test_functions_and_io.py::test_spread_keeps_a_small_parquet_frame_whole \
  tests/test_functions_and_io.py::test_spread_sizes_a_large_parquet_frame_from_its_rows \
  tests/test_functions_and_io.py::test_spread_keeps_the_core_count_rule_without_footer_rows \
  tests/test_operators.py::test_hamming_banded_pairs_explicit_partitions \
  tests/test_plans.py::test_lsh_blocked_pairs_partitions_knob \
  tests/test_explain_drift.py::test_normalizer_maps_cut_and_whole_locations_alike \
  tests/test_correctness_artifact.py \
  tests/test_explain_drift.py
