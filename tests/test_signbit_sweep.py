"""Standing negative-zero regression sweep (DuckDB-only, no Spark).

Round 6's one red driver row (`kaplan_meier_reorder`) was IEEE -0.0:
the repo-wide ``round(x - 1e-9, k)`` guard emits -0.0 in DuckDB but
+0.0 in Spark when the true value pins to zero, and the driver's value
hash distinguishes them even though ``==`` does not.  Nine queries
carried the latent class.  This sweep runs EVERY registered oracle on
DuckDB at both gate scale factors and fails if any float column
contains a negative zero — so a new wave can't reintroduce the class
and have it sit invisible until the driver's 50-query sample draws it.

The fix convention (see plans/registry.py header): append ``+ 0.0``
after the final round on BOTH the Spark and DuckDB sides.
"""

from __future__ import annotations

import pytest

from stream_processing_with_flink_study_spark import plans
from tools.check_oracle import duck_connection
from tools.signbit_sweep import negative_zero_columns

from .conftest import SF_MEDIUM, SF_SMALL


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MEDIUM])
def test_no_negative_zero_in_any_oracle(sf_dir):
    con = duck_connection(sf_dir)
    try:
        hits = [
            f"{name}.{c}"
            for name in sorted(plans.ORACLES)
            for c in negative_zero_columns(
                con.execute(plans.ORACLES[name]).fetch_df()
            )
        ]
    finally:
        con.close()
    assert not hits, (
        f"negative zero in oracle output at {sf_dir}: {hits} — append "
        "'+ 0.0' after the final round() on BOTH engine sides"
    )
