"""Full-scan file registry (reference ``getl/fileregistry/s3_full_scan.py``).

Lists *every* file under the base path each run and appends the unseen
ones to the control table with ``date_lifted = NULL``. Works on local
paths and ``s3://`` URIs through the shared listing layer.
Scale note: the listing and the control-table snapshot each run are
O(total files) — for date-laid-out data prefer ``date_prefix_scan``
which only lists the open date window.
"""

from __future__ import annotations

from typing import List

from getl_spark.common.utils import list_files
from getl_spark.registry.base import ControlTableRegistry


class FullScan(ControlTableRegistry):
    def load(self, path: str, suffix: str = "") -> List[str]:
        listed = [(file_path, None) for file_path in list_files(path, suffix)]
        return self._load_pending(listed)
