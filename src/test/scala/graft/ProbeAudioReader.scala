package graft

import javax.sound.sampled.{AudioFileFormat, AudioInputStream, UnsupportedAudioFileException}
import javax.sound.sampled.spi.AudioFileReader

/** An audio SPI reader that accepts nothing: the provider a test registers
  * through a child class loader alone, to see which loader the decode
  * path's provider lookup uses. */
class ProbeAudioReader extends AudioFileReader {
  private def no = throw new UnsupportedAudioFileException("probe")
  override def getAudioFileFormat(s: java.io.InputStream): AudioFileFormat = no
  override def getAudioFileFormat(u: java.net.URL): AudioFileFormat = no
  override def getAudioFileFormat(f: java.io.File): AudioFileFormat = no
  override def getAudioInputStream(s: java.io.InputStream): AudioInputStream = no
  override def getAudioInputStream(u: java.net.URL): AudioInputStream = no
  override def getAudioInputStream(f: java.io.File): AudioInputStream = no
}
