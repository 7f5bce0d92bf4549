"""Audio edition of :mod:`.media_ingest` (the AUDIO family), kept as an
import path."""

from functools import partial

from ..operators.phash_index import AUDIO
from .media_ingest import (
    process_media_ingest_batch,
    read_ingested_media,
    start_media_ingest,
)

process_audio_ingest_batch = partial(process_media_ingest_batch, family=AUDIO)
start_audio_ingest = partial(start_media_ingest, family=AUDIO)
read_ingested_audio = read_ingested_media
