"""The persisted VIDEO fingerprint index: ``phash_index`` under the
:data:`~.phash_index.VIDEO` family — probes return ``(vid_id,
matched_vid_id, dist)``, and the meta grid pin (``VFP_GRID_PIN``) makes
a cross-family probe fail loudly.  Kept as an import path."""

from functools import partial

from .phash_index import (
    VIDEO,
    build_phash_index,
    compact_phash_index,
    extend_phash_index,
    novel_images,
    phash_against_index,
)

build_vfp_index = partial(build_phash_index, family=VIDEO)
extend_vfp_index = partial(extend_phash_index, family=VIDEO)
vfp_against_index = partial(phash_against_index, family=VIDEO)
novel_videos = partial(novel_images, id_col=VIDEO.id_col)
compact_vfp_index = partial(compact_phash_index, family=VIDEO)
