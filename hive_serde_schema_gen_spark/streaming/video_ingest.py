"""Video edition of :mod:`.media_ingest` (the VIDEO family), kept as an
import path."""

from functools import partial

from ..operators.phash_index import VIDEO
from .media_ingest import (
    process_media_ingest_batch,
    read_ingested_media,
    start_media_ingest,
)

process_video_ingest_batch = partial(process_media_ingest_batch, family=VIDEO)
start_video_ingest = partial(start_media_ingest, family=VIDEO)
read_ingested_videos = read_ingested_media
