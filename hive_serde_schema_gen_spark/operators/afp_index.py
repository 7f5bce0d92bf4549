"""The persisted AUDIO fingerprint index: ``phash_index`` under the
:data:`~.phash_index.AUDIO` family — probes return ``(aud_id,
matched_aud_id, dist)``, and the meta grid pin (``AFP_WINDOWS``) makes a
cross-family probe fail loudly.  Kept as an import path."""

from functools import partial

from .phash_index import (
    AUDIO,
    build_phash_index,
    compact_phash_index,
    extend_phash_index,
    novel_images,
    phash_against_index,
)

build_afp_index = partial(build_phash_index, family=AUDIO)
extend_afp_index = partial(extend_phash_index, family=AUDIO)
afp_against_index = partial(phash_against_index, family=AUDIO)
novel_clips = partial(novel_images, id_col=AUDIO.id_col)
compact_afp_index = partial(compact_phash_index, family=AUDIO)
