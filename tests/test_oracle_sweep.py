"""Full-registry oracle sweep: every registered query runs on Spark and
its DuckDB oracle at sf0.01 and must match (entries without an oracle
must at least execute). Several minutes; the standalone form is
``make sweep`` (same code path)."""

import os


def test_full_registry_oracle_sweep():
    from tools.check_oracle import main

    sf_dir = os.environ.get("SPARKOBS_SWEEP_SF_DIR", "/root/testdata/sf0.01")
    assert main([sf_dir]) == 0, "oracle sweep reported failures (see stdout)"
